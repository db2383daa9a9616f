package graft.queries

/** DuckDB oracle SQL — one ANSI statement per declared query, over views
  * named like the fixture tables (events, lineitem, …). Kept textually
  * adjacent to the Spark implementations' determinism contract: total ORDER
  * BY with unique key, round(x, 6) on doubles, epoch_ms for timestamps,
  * explicit BIGINT casts on integer sums (DuckDB sums integers as HUGEINT).
  */
object Oracles {

  val r1: String =
    """WITH c AS (
      |  SELECT event_id, ts, user_id,
      |         CASE WHEN lower(trim(event_type)) IN ('', 'nan') THEN NULL
      |              ELSE lower(trim(event_type)) END AS event_type,
      |         TRY_CAST(value AS DOUBLE) AS value
      |  FROM events)
      |SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type,
      |       round(value, 6) AS value
      |FROM c
      |WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |  AND value IS NOT NULL AND value >= 0
      |ORDER BY event_id""".stripMargin

  val r2: String =
    """SELECT CAST(count(*) AS BIGINT) AS total_rows,
      |       CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_timestamp,
      |       CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_transaction_type,
      |       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_amount,
      |       CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_receiving_address,
      |       CAST(sum(CASE WHEN TRY_CAST(value AS DOUBLE) < 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_amount_negative,
      |       CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END)
      |          + sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
      |          + sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
      |          + sum(CASE WHEN TRY_CAST(value AS DOUBLE) < 0 THEN 1 ELSE 0 END) AS BIGINT) AS failed_rows_estimate,
      |       round(greatest(0.0, 1.0 -
      |         (sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END)
      |          + sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
      |          + sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
      |          + sum(CASE WHEN TRY_CAST(value AS DOUBLE) < 0 THEN 1 ELSE 0 END))
      |         / (count(*) + 1e-9)), 6) AS conformity_rate
      |FROM events""".stripMargin

  val r3: String =
    """WITH r AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
      |                               ORDER BY event_id) AS rn
      |  FROM events)
      |SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type,
      |       round(value, 6) AS value
      |FROM r WHERE rn = 1
      |ORDER BY event_id""".stripMargin

  // r4/x8/x14/x20: means and ratios use exact (decimal/integer) sums and the
  // bit-deterministic floor(x*1e6 + 0.5)/1e6 rounding — both engines run the
  // identical IEEE op sequence, where round() built-ins diverge on exact
  // half-boundary values whose double sits 1 ulp off (the x16 bug class).
  val r4: String =
    """SELECT event_type,
      |       floor(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / count(value)
      |             * 1000000 + 0.5) / 1000000 AS avg_value
      |FROM events
      |WHERE event_type IS NOT NULL
      |GROUP BY event_type
      |ORDER BY avg_value DESC, event_type""".stripMargin

  val r5: String =
    """WITH r AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |                               ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events WHERE event_type = 'purchase')
      |SELECT user_id, round(value, 6) AS value, epoch_ms(ts) AS ts_ms, event_id
      |FROM r WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  val r6: String =
    """WITH r AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |                               ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events WHERE event_type = 'purchase')
      |SELECT user_id, round(value, 6) AS value, epoch_ms(ts) AS ts_ms, event_id
      |FROM r WHERE rn = 1
      |ORDER BY value DESC, user_id
      |LIMIT 3""".stripMargin

  // r7: the engine synthesizes epoch columns at all four magnitudes from the
  // real timestamps, DETECTS each one's unit (median magnitude), and
  // round-trips back to epoch-µs. The oracle pins both the expected detected
  // units and the truncation arithmetic (// floors = truncates here: all
  // fixture epochs are positive). A wrong detection would shift the µs
  // columns 1000× AND flip a unit literal — either breaks the hash.
  val r7: String =
    """SELECT event_id,
      |       's'  AS unit_s, 'ms' AS unit_ms, 'us' AS unit_us, 'ns' AS unit_ns,
      |       epoch_us(ts) // 1000000 * 1000000 AS us_from_s,
      |       epoch_us(ts) // 1000 * 1000       AS us_from_ms,
      |       epoch_us(ts)                      AS us_from_us,
      |       epoch_us(ts)                      AS us_from_ns
      |FROM events
      |ORDER BY event_id""".stripMargin

  val x1: String =
    """SELECT r_name, n_name,
      |       CAST(count(*) AS BIGINT) AS n_customers,
      |       round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  val x2: String =
    """SELECT o_orderpriority,
      |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |                      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS revenue,
      |       CAST(count(*) AS BIGINT) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  val x3: String =
    """SELECT c_custkey, c_name
      |FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
      |ORDER BY c_custkey""".stripMargin

  val x4: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |       coalesce(l_linestatus, 'ALL') AS linestatus,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  val x5: String =
    """SELECT o_custkey, o_orderkey,
      |       epoch_ms(o_orderdate) AS order_date_ms,
      |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
      |               OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS running_spend
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  val x6: String =
    """WITH o AS (
      |  SELECT user_id, epoch_us(ts) AS us,
      |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |  FROM events)
      |SELECT user_id,
      |       CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
      |       CAST(count(*) AS BIGINT) AS n_events
      |FROM o GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  val x7: String =
    """SELECT c_custkey FROM (
      |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      |  UNION
      |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |  EXCEPT
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  val x36: String =
    """SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      |INTERSECT
      |SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |ORDER BY c_custkey""".stripMargin

  val x37: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  val x38: String =
    """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
      |       CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  val x39: String =
    """WITH c AS (
      |  SELECT c_nationkey AS nk, CAST(count(*) AS BIGINT) AS n_cust
      |  FROM customer WHERE c_acctbal > 9700 GROUP BY c_nationkey),
      |s AS (
      |  SELECT s_nationkey AS nk, CAST(count(*) AS BIGINT) AS n_supp
      |  FROM supplier WHERE s_acctbal > 9000 GROUP BY s_nationkey)
      |SELECT coalesce(c.nk, s.nk) AS nationkey, c.n_cust, s.n_supp
      |FROM c FULL OUTER JOIN s ON c.nk = s.nk
      |ORDER BY nationkey""".stripMargin

  val x8: String =
    """WITH e AS (
      |  SELECT event_type,
      |         TRY_CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT) AS k
      |  FROM events)
      |SELECT event_type,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(k) AS BIGINT) AS sum_k,
      |       floor(CAST(sum(k) AS DOUBLE) / count(k) * 1000000 + 0.5) / 1000000 AS avg_k,
      |       CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_k
      |FROM e GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  val x9: String =
    """SELECT token, CAST(count(*) AS BIGINT) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |GROUP BY token
      |ORDER BY n DESC, token
      |LIMIT 20""".stripMargin

  val x10: String =
    """WITH r AS (
      |  SELECT doc_id, md5(text) AS text_md5, lang, source,
      |         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |  FROM documents)
      |SELECT doc_id, text_md5, lang, source
      |FROM r WHERE rn = 1
      |ORDER BY doc_id""".stripMargin

  val x11: String =
    """SELECT vec_id, label, cosine FROM (
      |  SELECT e.vec_id, e.label,
      |         round(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)) /
      |           (sqrt(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)))
      |            * sqrt(sum(CAST(q.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)))), 6) AS cosine
      |  FROM embeddings e,
      |       (SELECT embedding FROM embeddings WHERE vec_id = 0) q,
      |       range(1, 65) i(i)
      |  GROUP BY e.vec_id, e.label)
      |ORDER BY cosine DESC, vec_id
      |LIMIT 10""".stripMargin

  val x12: String =
    """SELECT event_type,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |       CAST(count(*) AS BIGINT) AS n_events
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---- Group L: LLM-pipeline operators. Shared scaffolding: shingles via
  // DuckDB's scalar range()+list_transform (its range table function rejects
  // lateral column bounds); minhashes compared as md5 hex STRINGS (same
  // total order both engines); all double math CAST to DOUBLE explicitly so
  // DuckDB's decimal literals can't change the arithmetic.

  // NB: no `||` at line starts anywhere in this CTE — it is interpolated
  // into strings that take a second .stripMargin pass, which would eat the
  // leading pipe of a concat operator. concat_ws sidesteps the operator.
  private val shingleCte: String =
    """sh AS (
      |  SELECT doc_id,
      |         unnest(list_transform(range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
      |                i -> concat_ws(' ', string_split(text, ' ')[i],
      |                     string_split(text, ' ')[i+1], string_split(text, ' ')[i+2]))) AS shingle
      |  FROM documents)""".stripMargin

  val x13: String =
    s"""WITH $shingleCte,
      |mh AS (
      |  SELECT doc_id, j, min(md5(concat(CAST(j AS VARCHAR), '|', shingle))) AS mh
      |  FROM sh, range(0, 16) s(j) GROUP BY doc_id, j),
      |band AS (
      |  SELECT doc_id, j // 4 AS band, md5(string_agg(mh, ',' ORDER BY j)) AS bh
      |  FROM mh GROUP BY doc_id, j // 4),
      |buck AS (SELECT band, bh, min(doc_id) AS rep FROM band GROUP BY band, bh),
      |canon AS (
      |  SELECT b.doc_id, min(k.rep) AS canonical
      |  FROM band b JOIN buck k ON b.band = k.band AND b.bh = k.bh
      |  GROUP BY b.doc_id),
      |m0 AS (SELECT doc_id, mh AS mh0 FROM mh WHERE j = 0)
      |SELECT d.doc_id,
      |       coalesce(c.canonical, d.doc_id) AS canonical_id,
      |       CAST(d.doc_id <> coalesce(c.canonical, d.doc_id) AS INT) AS is_dup,
      |       m0.mh0
      |FROM documents d
      |LEFT JOIN canon c ON d.doc_id = c.doc_id
      |LEFT JOIN m0 ON d.doc_id = m0.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** x114's oracle: x13's projected to the columns the incremental
    * (streaming-replay) path materializes. DuckDB permits the ordered
    * subquery; the outer ORDER BY re-pins total order regardless.
    */
  val x114: String =
    "SELECT doc_id, canonical_id, is_dup FROM (\n" + x13 + "\n) ORDER BY doc_id"

  val x14: String =
    """SELECT lang,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |       floor(CAST(sum(n_chars) AS DOUBLE) / count(n_chars) * 1000000 + 0.5)
      |         / 1000000 AS avg_chars,
      |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
      |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  val x15: String =
    """WITH s AS (
      |  SELECT doc_id, lang,
      |    (length(text) - length(replace(text, 'ch', ''))) / 2
      |      + (length(text) - length(replace(text, 'ei', ''))) / 2 AS s_de,
      |    (length(text) - length(replace(text, 'th', ''))) / 2
      |      + (length(text) - length(replace(text, 'he', ''))) / 2 AS s_en,
      |    (length(text) - length(replace(text, 'de', ''))) / 2
      |      + (length(text) - length(replace(text, 'la', ''))) / 2 AS s_es,
      |    (length(text) - length(replace(text, 'le', ''))) / 2
      |      + (length(text) - length(replace(text, 'ou', ''))) / 2 AS s_fr,
      |    (length(text) - length(replace(text, 'zh', ''))) / 2
      |      + (length(text) - length(replace(text, 'ng', ''))) / 2 AS s_zh
      |  FROM documents),
      |p AS (
      |  SELECT lang,
      |    CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
      |         WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
      |         WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
      |         WHEN s_fr >= s_zh THEN 'fr'
      |         ELSE 'zh' END AS predicted
      |  FROM s)
      |SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n_docs
      |FROM p GROUP BY lang, predicted
      |ORDER BY lang, predicted""".stripMargin

  val x16: String =
    """WITH t AS (
      |  SELECT doc_id, length(replace(text, ' ', '')) AS n_alpha FROM documents),
      |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |st AS (
      |  SELECT doc_id, count(*) AS n_tokens,
      |         sum(CASE WHEN token IN ('the', 'a', 'of', 'to', 'and') THEN 1 ELSE 0 END) AS n_stop
      |  FROM tok GROUP BY doc_id)
      |SELECT s.doc_id,
      |       CAST(s.n_tokens AS BIGINT) AS n_tokens,
      |       CAST(s.n_stop AS BIGINT) AS n_stop,
      |       floor(CAST(s.n_stop AS DOUBLE) / s.n_tokens * 1000000 + 0.5) / 1000000 AS stop_ratio,
      |       floor((0.4 * least(CAST(s.n_tokens AS DOUBLE), 50.0) / 50.0
      |           + 0.3 * (1.0 - CAST(s.n_stop AS DOUBLE) / s.n_tokens)
      |           + 0.3 * least(CAST(t.n_alpha AS DOUBLE) / s.n_tokens, 10.0) / 10.0)
      |         * 100000000 + 0.5) / 100000000 AS quality_score
      |FROM st s JOIN t ON s.doc_id = t.doc_id
      |ORDER BY s.doc_id""".stripMargin

  val x17: String =
    """SELECT doc_id,
      |       coalesce(list_aggregate(list_transform(range(1, greatest(length(text) - 6, 1)),
      |                i -> md5(substr(text, i, 8))), 'min'), md5(text)) AS fingerprint
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  val x18: String =
    """SELECT source,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_ws_tokens,
      |       CAST(sum(len(regexp_extract_all(text, '[a-z]+'))) AS BIGINT) AS sum_re_tokens,
      |       CAST(sum(CAST(ceil(n_chars / 4.0) AS BIGINT)) AS BIGINT) AS sum_bpe_est
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  val x19: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |h AS (SELECT doc_id, md5(token) AS h FROM tok),
      |bits AS (
      |  SELECT doc_id, b,
      |    sum(CASE WHEN ((strpos('0123456789abcdef', substr(h, b // 4 + 1, 1)) - 1)
      |                   // CAST(pow(2, b % 4) AS INTEGER)) % 2 = 1
      |        THEN 1 ELSE -1 END) AS s
      |  FROM h, range(0, 16) r(b) GROUP BY doc_id, b)
      |SELECT doc_id,
      |       CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
      |FROM bits GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** x35: x19's signature CTE + byte-half banding + exact Hamming filter,
    * aggregated to per-doc degree + lowest witness.
    */
  val x35: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |h AS (SELECT doc_id, md5(token) AS h FROM tok),
      |bits AS (
      |  SELECT doc_id, b,
      |    sum(CASE WHEN ((strpos('0123456789abcdef', substr(h, b // 4 + 1, 1)) - 1)
      |                   // CAST(pow(2, b % 4) AS INTEGER)) % 2 = 1
      |        THEN 1 ELSE -1 END) AS s
      |  FROM h, range(0, 16) r(b) GROUP BY doc_id, b),
      |sig AS (
      |  SELECT doc_id,
      |         CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
      |  FROM bits GROUP BY doc_id),
      |wb AS (
      |  SELECT doc_id, simhash, band,
      |         CASE WHEN band = 0 THEN simhash // 256 ELSE simhash % 256 END AS bv
      |  FROM sig, range(0, 2) r(band)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_id, c.doc_id AS partner,
      |                  a.simhash AS s1, c.simhash AS s2
      |  FROM wb a JOIN wb c ON a.band = c.band AND a.bv = c.bv
      |   AND a.doc_id <> c.doc_id),
      |near AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_near, min(partner) AS nearest_id
      |  FROM cand WHERE bit_count(xor(s1, s2)) <= 2
      |  GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(n.n_near, 0) AS n_near, n.nearest_id
      |FROM documents d LEFT JOIN near n ON d.doc_id = n.doc_id
      |ORDER BY d.doc_id""".stripMargin

  val x20: String =
    s"""WITH $shingleCte,
      |shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
      |mh AS (
      |  SELECT doc_id, j, min(md5(concat(CAST(j AS VARCHAR), '|', shingle))) AS mh
      |  FROM sh, range(0, 16) s(j) GROUP BY doc_id, j),
      |band AS (
      |  SELECT doc_id, j // 4 AS band, md5(string_agg(mh, ',' ORDER BY j)) AS bh
      |  FROM mh GROUP BY doc_id, j // 4),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |  FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
      |sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
      |inter AS (
      |  SELECT c.d1, c.d2, count(*) AS n_common
      |  FROM cand c
      |  JOIN shd s1 ON s1.doc_id = c.d1
      |  JOIN shd s2 ON s2.doc_id = c.d2 AND s2.shingle = s1.shingle
      |  GROUP BY c.d1, c.d2)
      |SELECT i.d1, i.d2, CAST(i.n_common AS BIGINT) AS n_common,
      |       floor(CAST(i.n_common AS DOUBLE) / (z1.n + z2.n - i.n_common)
      |             * 1000000 + 0.5) / 1000000 AS jaccard
      |FROM inter i
      |JOIN sizes z1 ON z1.doc_id = i.d1
      |JOIN sizes z2 ON z2.doc_id = i.d2
      |WHERE CAST(i.n_common AS DOUBLE) / (z1.n + z2.n - i.n_common) >= 0.4
      |ORDER BY d1, d2""".stripMargin

  val x21: String =
    """WITH b AS (
      |  SELECT vec_id, label, embedding,
      |    CAST(embedding[1] > 0 AS INT) * 8 + CAST(embedding[2] > 0 AS INT) * 4
      |    + CAST(embedding[3] > 0 AS INT) * 2 + CAST(embedding[4] > 0 AS INT) AS bucket
      |  FROM embeddings),
      |q AS (SELECT embedding AS q_emb, bucket AS q_bucket FROM b WHERE vec_id = 0)
      |SELECT vec_id, label, cosine FROM (
      |  SELECT e.vec_id, e.label,
      |         round(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.q_emb[i.i] AS DOUBLE)) /
      |           (sqrt(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)))
      |            * sqrt(sum(CAST(q.q_emb[i.i] AS DOUBLE) * CAST(q.q_emb[i.i] AS DOUBLE)))), 6) AS cosine
      |  FROM b e, q, range(1, 65) i(i)
      |  WHERE e.bucket = q.q_bucket
      |  GROUP BY e.vec_id, e.label)
      |ORDER BY cosine DESC, vec_id
      |LIMIT 5""".stripMargin

  val x22: String =
    """WITH od AS (
      |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
      |  FROM orders GROUP BY o_custkey, o_orderdate)
      |SELECT e.event_id, e.user_id, od.o_orderkey AS matched_order
      |FROM events e ASOF LEFT JOIN od
      |  ON e.user_id = od.o_custkey AND e.ts >= od.o_orderdate
      |ORDER BY e.event_id""".stripMargin

  val x23: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |       coalesce(l_linestatus, 'ALL') AS linestatus,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price
      |FROM lineitem
      |GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  val x24: String =
    """SELECT CAST(user_id % 10 AS BIGINT) AS cohort,
      |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
      |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
      |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
      |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
      |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
      |FROM events
      |GROUP BY user_id % 10
      |ORDER BY cohort NULLS FIRST""".stripMargin

  val x26: String =
    """SELECT o_custkey, o_orderkey,
      |       CAST(rank() OVER w AS BIGINT) AS rnk,
      |       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
      |       CAST(ntile(4) OVER w AS INT) AS quartile,
      |       lead(o_orderkey, 1) OVER w AS next_orderkey
      |FROM orders
      |WHERE o_custkey <= 100
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  val x27: String =
    """SELECT p_brand,
      |       CAST(count(*) AS BIGINT) AS n_items,
      |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |WHERE p_size <= 20 AND s_acctbal > 2000
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  val x25: String =
    """SELECT event_type,
      |       round(quantile_cont(value, 0.5), 6) AS p50,
      |       round(quantile_cont(value, 0.9), 6) AS p90,
      |       round(max(value), 6) AS max_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** x28: same 6-sign-bit bucketing + in-bucket pair cosine; floor-pattern
    * rounding BEFORE the rank window so both engines rank identical values.
    */
  val x28: String =
    """WITH b AS (
      |  SELECT vec_id, embedding,
      |    CAST(embedding[1] > 0 AS INT) * 32 + CAST(embedding[2] > 0 AS INT) * 16
      |    + CAST(embedding[3] > 0 AS INT) * 8 + CAST(embedding[4] > 0 AS INT) * 4
      |    + CAST(embedding[5] > 0 AS INT) * 2 + CAST(embedding[6] > 0 AS INT) AS bucket
      |  FROM embeddings),
      |p AS (
      |  SELECT a.vec_id AS vec_id, c.vec_id AS nn_id,
      |    floor(sum(CAST(a.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) /
      |      (sqrt(sum(CAST(a.embedding[i.i] AS DOUBLE) * CAST(a.embedding[i.i] AS DOUBLE)))
      |       * sqrt(sum(CAST(c.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE))))
      |      * 1e6 + 0.5) / 1e6 AS cosine
      |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id,
      |       range(1, 65) i(i)
      |  GROUP BY 1, 2)
      |SELECT vec_id, nn_id, cosine FROM p
      |QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, nn_id) = 1
      |ORDER BY vec_id""".stripMargin

  /** x29: the oracle states the range join directly as an inequality join;
    * the Spark side reaches the same pair set through band bucketing. All
    * time math is epoch-ms BIGINT on both sides.
    */
  val x29: String =
    """SELECT a.o_orderkey AS k1, b.o_orderkey AS k2, a.o_custkey AS custkey,
      |       epoch_ms(b.o_orderdate) - epoch_ms(a.o_orderdate) AS gap_ms
      |FROM orders a JOIN orders b ON a.o_custkey = b.o_custkey
      | AND epoch_ms(b.o_orderdate) > epoch_ms(a.o_orderdate)
      | AND epoch_ms(b.o_orderdate) <= epoch_ms(a.o_orderdate) + 2592000000
      |ORDER BY k1, k2""".stripMargin

  /** x32: same codebook/assignment/probe/rerank pipeline stated with CTEs;
    * the argmax is the QUALIFY-rank equivalent of Spark's max(struct).
    */
  val x32: String =
    """WITH c AS (
      |  SELECT vec_id AS cid, embedding AS cemb FROM embeddings
      |  WHERE vec_id BETWEEN 1 AND 8),
      |ac AS (
      |  SELECT e.vec_id, c.cid,
      |    floor(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(c.cemb[i.i] AS DOUBLE)) /
      |      (sqrt(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)))
      |       * sqrt(sum(CAST(c.cemb[i.i] AS DOUBLE) * CAST(c.cemb[i.i] AS DOUBLE))))
      |      * 1e6 + 0.5) / 1e6 AS ac
      |  FROM embeddings e, c, range(1, 65) i(i)
      |  GROUP BY 1, 2),
      |assign AS (
      |  SELECT vec_id, cid FROM ac
      |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ac DESC, cid) = 1),
      |qp AS (SELECT cid FROM ac WHERE vec_id = 0 ORDER BY ac DESC, cid LIMIT 2),
      |q AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0)
      |SELECT e.vec_id, e.label,
      |  floor(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.qemb[i.i] AS DOUBLE)) /
      |    (sqrt(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)))
      |     * sqrt(sum(CAST(q.qemb[i.i] AS DOUBLE) * CAST(q.qemb[i.i] AS DOUBLE))))
      |    * 1e6 + 0.5) / 1e6 AS cosine
      |FROM embeddings e
      |JOIN assign USING (vec_id) JOIN qp USING (cid), q, range(1, 65) i(i)
      |GROUP BY e.vec_id, e.label
      |ORDER BY cosine DESC, vec_id
      |LIMIT 5""".stripMargin

  /** x33: the oracle is the plain unsalted group-by — decimal sums make the
    * salted two-stage combine bit-identical to the single-stage sum.
    */
  val x33: String =
    """SELECT event_type,
      |       CAST(count(event_id) AS BIGINT) AS n_rows,
      |       CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** x34: the composed prep flow. Every stage reuses the arithmetic of its
    * standalone query (x16 scoring, x10-style exact dedup, x13 minhash) so
    * the stage gates match the Spark side bit-for-bit; the minhash stages
    * run over `ex` (the quality+dedup survivors), not all documents.
    */
  val x34: String =
    """WITH en AS (SELECT * FROM documents WHERE lang = 'en'),
      |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM en),
      |st AS (
      |  SELECT doc_id, count(*) AS n_tokens,
      |         sum(CASE WHEN token IN ('the', 'a', 'of', 'to', 'and') THEN 1 ELSE 0 END) AS n_stop
      |  FROM tok GROUP BY doc_id),
      |alpha AS (SELECT doc_id, length(replace(text, ' ', '')) AS n_alpha FROM en),
      |q AS (
      |  SELECT s.doc_id,
      |         floor((0.4 * least(CAST(s.n_tokens AS DOUBLE), 50.0) / 50.0
      |             + 0.3 * (1.0 - CAST(s.n_stop AS DOUBLE) / s.n_tokens)
      |             + 0.3 * least(CAST(t.n_alpha AS DOUBLE) / s.n_tokens, 10.0) / 10.0)
      |           * 100000000 + 0.5) / 100000000 AS quality_score
      |  FROM st s JOIN alpha t ON s.doc_id = t.doc_id),
      |pass AS (SELECT doc_id, quality_score FROM q WHERE quality_score >= CAST(0.7 AS DOUBLE)),
      |ex AS (
      |  SELECT d.doc_id, d.text, d.lang, p.quality_score
      |  FROM en d JOIN pass p USING (doc_id)
      |  QUALIFY row_number() OVER (PARTITION BY md5(d.text) ORDER BY d.doc_id) = 1),
      |sh AS (
      |  SELECT doc_id,
      |         unnest(list_transform(range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
      |                i -> concat_ws(' ', string_split(text, ' ')[i],
      |                     string_split(text, ' ')[i+1], string_split(text, ' ')[i+2]))) AS shingle
      |  FROM ex),
      |mh AS (
      |  SELECT doc_id, j, min(md5(concat(CAST(j AS VARCHAR), '|', shingle))) AS mh
      |  FROM sh, range(0, 16) s(j) GROUP BY doc_id, j),
      |band AS (
      |  SELECT doc_id, j // 4 AS band, md5(string_agg(mh, ',' ORDER BY j)) AS bh
      |  FROM mh GROUP BY doc_id, j // 4),
      |buck AS (SELECT band, bh, min(doc_id) AS rep FROM band GROUP BY band, bh),
      |canon AS (
      |  SELECT b.doc_id, min(k.rep) AS canonical
      |  FROM band b JOIN buck k ON b.band = k.band AND b.bh = k.bh
      |  GROUP BY b.doc_id)
      |SELECT e.doc_id, e.lang, e.quality_score
      |FROM ex e LEFT JOIN canon c ON e.doc_id = c.doc_id
      |WHERE coalesce(c.canonical, e.doc_id) = e.doc_id
      |  AND substr(md5(CAST(e.doc_id AS VARCHAR)), 1, 2) <= '7f'
      |ORDER BY e.doc_id""".stripMargin

  val x30: String =
    """SELECT doc_id, lang, source
      |FROM documents
      |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <=
      |      CASE WHEN lang = 'en' THEN '1f' ELSE '3f' END
      |ORDER BY doc_id""".stripMargin

  val x31: String =
    """WITH t AS (SELECT lang, string_split(text, ' ') AS toks FROM documents),
      |bg AS (
      |  SELECT lang, unnest(list_transform(range(1, len(toks)),
      |    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      |  FROM t),
      |cnt AS (SELECT lang, bigram, CAST(count(*) AS BIGINT) AS n
      |        FROM bg GROUP BY 1, 2)
      |SELECT lang, bigram, n FROM cnt
      |QUALIFY row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) <= 5
      |ORDER BY lang, n DESC, bigram""".stripMargin

  // x40: identical aggregate over the ORIGINAL parquet — a hash match
  // proves the Spark side's jsonl.gz write/read roundtrip lost nothing
  val x40: String =
    """SELECT lang,
      |       count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |       CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
      |       min(doc_id) AS min_id,
      |       max(doc_id) AS max_id,
      |       count(DISTINCT source) AS n_sources
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  val x41: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |tok AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
      |               CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
      |        FROM t),
      |bg AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      |    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      |  FROM t),
      |cnt AS (SELECT doc_id, bigram, count(*) AS n FROM bg GROUP BY 1, 2),
      |top AS (SELECT doc_id, CAST(max(n) AS BIGINT) AS top_n,
      |               CAST(sum(n) AS BIGINT) AS n_bigrams
      |        FROM cnt GROUP BY 1)
      |SELECT tok.doc_id, n_tokens, n_distinct,
      |       floor(CAST(n_tokens - n_distinct AS DOUBLE) / n_tokens * 1000000 + 0.5)
      |         / 1000000 AS dup_token_frac,
      |       floor(CAST(top_n AS DOUBLE) / n_bigrams * 1000000 + 0.5)
      |         / 1000000 AS top_bigram_frac
      |FROM tok LEFT JOIN top ON tok.doc_id = top.doc_id
      |ORDER BY tok.doc_id""".stripMargin

  val x42: String =
    """SELECT lang,
      |       CAST(row_number() OVER (PARTITION BY lang
      |         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn,
      |       doc_id,
      |       md5(CAST(doc_id AS VARCHAR)) AS h
      |FROM documents
      |QUALIFY rn <= 3
      |ORDER BY lang, rn""".stripMargin

  val x43: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 3),
      |    i -> md5(toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
      |             || ' ' || toks[i + 3] || ' ' || toks[i + 4]))) AS gh
      |  FROM t),
      |bench AS (SELECT DISTINCT gh FROM g WHERE doc_id % 100 = 0),
      |corpus AS (SELECT * FROM g WHERE doc_id % 100 <> 0),
      |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
      |        FROM corpus GROUP BY 1),
      |hit AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
      |        FROM corpus JOIN bench USING (gh) GROUP BY 1)
      |SELECT tot.doc_id, n_grams, n_hit,
      |       floor(CAST(n_hit AS DOUBLE) / n_grams * 1000000 + 0.5)
      |         / 1000000 AS contamination_frac
      |FROM tot JOIN hit ON tot.doc_id = hit.doc_id
      |ORDER BY tot.doc_id""".stripMargin

  val x44: String =
    """SELECT o_custkey, o_orderkey, epoch_ms(o_orderdate) AS order_date_ms,
      |       floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
      |             / (count(*) OVER w) * 1000000 + 0.5) / 1000000 AS mov_avg
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // x45: `value` rides through untouched (no arithmetic), so the carried
  // doubles are exact on both sides — no rounding needed anywhere
  val x45: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ms(ts) // 86400000 AS day, value, ts, event_id
      |  FROM events),
      |daily AS (
      |  SELECT user_id, day, value
      |  FROM e
      |  QUALIFY row_number() OVER (PARTITION BY user_id, day
      |            ORDER BY ts DESC, event_id DESC) = 1),
      |bounds AS (SELECT user_id, min(day) AS d0, max(day) AS d1
      |           FROM daily GROUP BY 1),
      |spine AS (SELECT user_id, unnest(range(d0, d1 + 1)) AS day FROM bounds),
      |joined AS (
      |  SELECT s.user_id, s.day, d.value
      |  FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day)
      |SELECT user_id, CAST(day AS BIGINT) AS day,
      |       CAST(value IS NOT NULL AS INT) AS observed,
      |       last_value(value IGNORE NULLS) OVER (PARTITION BY user_id
      |         ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      |FROM joined
      |ORDER BY user_id, day""".stripMargin

  // x46: x34's pipeline + repetition gate + contamination filter — CTEs
  // composed from the x16/x41/x13/x43 oracle building blocks
  val x46: String =
    """WITH en AS (SELECT * FROM documents WHERE lang = 'en'),
      |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM en),
      |st AS (
      |  SELECT doc_id, count(*) AS n_tokens,
      |         sum(CASE WHEN token IN ('the', 'a', 'of', 'to', 'and') THEN 1 ELSE 0 END) AS n_stop
      |  FROM tok GROUP BY doc_id),
      |alpha AS (SELECT doc_id, length(replace(text, ' ', '')) AS n_alpha FROM en),
      |q AS (
      |  SELECT s.doc_id,
      |         floor((0.4 * least(CAST(s.n_tokens AS DOUBLE), 50.0) / 50.0
      |             + 0.3 * (1.0 - CAST(s.n_stop AS DOUBLE) / s.n_tokens)
      |             + 0.3 * least(CAST(t.n_alpha AS DOUBLE) / s.n_tokens, 10.0) / 10.0)
      |           * 100000000 + 0.5) / 100000000 AS quality_score
      |  FROM st s JOIN alpha t ON s.doc_id = t.doc_id),
      |pass AS (SELECT doc_id, quality_score FROM q WHERE quality_score >= CAST(0.7 AS DOUBLE)),
      |bgt AS (SELECT doc_id, string_split(text, ' ') AS toks FROM en),
      |bgu AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      |    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      |  FROM bgt),
      |bgc AS (SELECT doc_id, bigram, count(*) AS n FROM bgu GROUP BY 1, 2),
      |rep AS (
      |  SELECT doc_id FROM bgc GROUP BY doc_id
      |  HAVING floor(CAST(max(n) AS DOUBLE) / sum(n) * 1000000 + 0.5) / 1000000
      |         <= CAST(0.05 AS DOUBLE)),
      |ex AS (
      |  SELECT d.doc_id, d.text, d.lang, p.quality_score
      |  FROM en d JOIN pass p USING (doc_id) JOIN rep r USING (doc_id)
      |  QUALIFY row_number() OVER (PARTITION BY md5(d.text) ORDER BY d.doc_id) = 1),
      |sh AS (
      |  SELECT doc_id,
      |         unnest(list_transform(range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
      |                i -> concat_ws(' ', string_split(text, ' ')[i],
      |                     string_split(text, ' ')[i+1], string_split(text, ' ')[i+2]))) AS shingle
      |  FROM ex),
      |mh AS (
      |  SELECT doc_id, j, min(md5(concat(CAST(j AS VARCHAR), '|', shingle))) AS mh
      |  FROM sh, range(0, 16) s(j) GROUP BY doc_id, j),
      |band AS (
      |  SELECT doc_id, j // 4 AS band, md5(string_agg(mh, ',' ORDER BY j)) AS bh
      |  FROM mh GROUP BY doc_id, j // 4),
      |buck AS (SELECT band, bh, min(doc_id) AS rep FROM band GROUP BY band, bh),
      |canon AS (
      |  SELECT b.doc_id, min(k.rep) AS canonical
      |  FROM band b JOIN buck k ON b.band = k.band AND b.bh = k.bh
      |  GROUP BY b.doc_id),
      |kept AS (
      |  SELECT e.doc_id, e.text, e.lang, e.quality_score
      |  FROM ex e LEFT JOIN canon c ON e.doc_id = c.doc_id
      |  WHERE coalesce(c.canonical, e.doc_id) = e.doc_id),
      |kgt AS (SELECT doc_id, string_split(text, ' ') AS toks FROM kept),
      |kg AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 3),
      |    i -> md5(toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
      |             || ' ' || toks[i + 3] || ' ' || toks[i + 4]))) AS gh
      |  FROM kgt),
      |bt AS (SELECT string_split(text, ' ') AS toks FROM documents WHERE doc_id % 25 = 0),
      |bench AS (
      |  SELECT DISTINCT unnest(list_transform(range(1, len(toks) - 3),
      |    i -> md5(toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
      |             || ' ' || toks[i + 3] || ' ' || toks[i + 4]))) AS gh
      |  FROM bt),
      |contam AS (SELECT DISTINCT kg.doc_id FROM kg JOIN bench USING (gh))
      |SELECT k.doc_id, k.lang, k.quality_score
      |FROM kept k LEFT JOIN contam c ON k.doc_id = c.doc_id
      |WHERE c.doc_id IS NULL
      |  AND substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 2) <= '7f'
      |ORDER BY k.doc_id""".stripMargin

  // x69: x46's pipeline verbatim over the PII-redacted corpus — built by
  // string surgery so neither the pipeline NOR the scrub can drift: the
  // redaction comes from the same piiSqlStages as x64's oracle, and the
  // body is x46's SQL with every corpus read re-pointed at the cleaned CTE
  val x69: String = {
    val cleaned =
      s"""cleaned AS (
        |  SELECT doc_id, ${piiRedactSql("text")} AS text,
        |         lang, source, n_chars
        |  FROM documents),
        |""".stripMargin
    "WITH " + cleaned + x46.stripPrefix("WITH ").replace("FROM documents", "FROM cleaned")
  }

  // Shared by x47 and x104: the transitive near-dup closure — DuckDB's
  // recursive CTE computes the same fixpoint Spark reaches by iterative
  // min-label propagation. Ends at CTE `r` = (doc_id, component).
  // NB: no `|` margin chars here — this is interpolated into strings that
  // take their own .stripMargin pass (the shingleCte rule).
  private val componentCtes: String =
    """sh AS (
      |  SELECT doc_id,
      |         unnest(list_transform(range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
      |                i -> concat_ws(' ', string_split(text, ' ')[i],
      |                     string_split(text, ' ')[i+1], string_split(text, ' ')[i+2]))) AS shingle
      |  FROM documents),
      |mh AS (
      |  SELECT doc_id, j, min(md5(concat(CAST(j AS VARCHAR), '|', shingle))) AS mh
      |  FROM sh, range(0, 16) s(j) GROUP BY doc_id, j),
      |band AS (
      |  SELECT doc_id, j // 4 AS band, md5(string_agg(mh, ',' ORDER BY j)) AS bh
      |  FROM mh GROUP BY doc_id, j // 4),
      |buck AS (SELECT band, bh, min(doc_id) AS rep FROM band GROUP BY band, bh),
      |e0 AS (
      |  SELECT DISTINCT b.doc_id AS a, k.rep AS b
      |  FROM band b JOIN buck k ON b.band = k.band AND b.bh = k.bh
      |  WHERE b.doc_id <> k.rep),
      |edges AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
      |r AS (
      |  WITH RECURSIVE reach(doc_id, label) AS (
      |    SELECT doc_id, doc_id AS label FROM documents
      |    UNION
      |    SELECT e.a AS doc_id, reach.label
      |    FROM reach JOIN edges e ON reach.doc_id = e.b
      |  ) SELECT doc_id, min(label) AS component FROM reach GROUP BY doc_id)""".stripMargin

  val x47: String =
    s"""WITH $componentCtes,
      |sz AS (SELECT component, CAST(count(*) AS BIGINT) AS n_members FROM r GROUP BY component)
      |SELECT r.doc_id, r.component, sz.n_members,
      |       CAST(r.doc_id = r.component AS INT) AS is_canonical
      |FROM r JOIN sz USING (component)
      |ORDER BY r.doc_id""".stripMargin

  // x104: x47's closure + one hash — ('0x' || md5-prefix)::BIGINT is the
  // exact hex parse of Spark's conv(..., 16, 10) (the x80 precedent), so
  // the split assignment is engine-identical integer arithmetic.
  val x104: String =
    s"""WITH $componentCtes,
      |h AS (
      |  SELECT doc_id, component,
      |         ('0x' || substring(md5('split|' || CAST(component AS VARCHAR)), 1, 8))::BIGINT % 10 AS h
      |  FROM r)
      |SELECT doc_id, component,
      |       CASE WHEN h <= 7 THEN 'train' WHEN h = 8 THEN 'val' ELSE 'test' END AS split
      |FROM h
      |ORDER BY doc_id""".stripMargin

  // x48: the declarative FULL RECOMPUTE over standing ∪ delta, restricted
  // to the delta rows — matching the Spark side's incremental bucket-state
  // path proves incremental == batch recompute
  val x48: String =
    s"""WITH $shingleCte,
      |mh AS (
      |  SELECT doc_id, j, min(md5(concat(CAST(j AS VARCHAR), '|', shingle))) AS mh
      |  FROM sh, range(0, 16) s(j) GROUP BY doc_id, j),
      |band AS (
      |  SELECT doc_id, j // 4 AS band, md5(string_agg(mh, ',' ORDER BY j)) AS bh
      |  FROM mh GROUP BY doc_id, j // 4),
      |buck AS (SELECT band, bh, min(doc_id) AS rep FROM band GROUP BY band, bh),
      |canon AS (
      |  SELECT b.doc_id, min(k.rep) AS canonical
      |  FROM band b JOIN buck k ON b.band = k.band AND b.bh = k.bh
      |  GROUP BY b.doc_id)
      |SELECT d.doc_id,
      |       coalesce(c.canonical, d.doc_id) AS canonical_id,
      |       CAST(d.doc_id <> coalesce(c.canonical, d.doc_id) AS INT) AS is_dup
      |FROM documents d
      |LEFT JOIN canon c ON d.doc_id = c.doc_id
      |WHERE d.doc_id % 4 = 0
      |ORDER BY d.doc_id""".stripMargin

  // x49: PQ rebuilt declaratively — same deterministic codebook (subvectors
  // of vecs 1..4), same floor-rounded three-dot L2², same decimal-exact ADC
  // sum, so the hash match pins code assignment AND the lookup-table sum
  val x49: String =
    """WITH cent AS (
      |  SELECT vec_id AS c, embedding AS cemb FROM embeddings
      |  WHERE vec_id BETWEEN 1 AND 4),
      |q AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0),
      |qd AS (
      |  SELECT cent.c, s.s,
      |    floor((sum(CAST(q.qemb[s.s*8+j.j] AS DOUBLE) * CAST(q.qemb[s.s*8+j.j] AS DOUBLE))
      |      - 2 * sum(CAST(q.qemb[s.s*8+j.j] AS DOUBLE) * CAST(cent.cemb[s.s*8+j.j] AS DOUBLE))
      |      + sum(CAST(cent.cemb[s.s*8+j.j] AS DOUBLE) * CAST(cent.cemb[s.s*8+j.j] AS DOUBLE)))
      |      * 1e6 + 0.5) / 1e6 AS qdist
      |  FROM cent, q, range(0, 8) s(s), range(1, 9) j(j)
      |  GROUP BY cent.c, s.s),
      |ed AS (
      |  SELECT e.vec_id, e.label, cent.c, s.s,
      |    floor((sum(CAST(e.embedding[s.s*8+j.j] AS DOUBLE) * CAST(e.embedding[s.s*8+j.j] AS DOUBLE))
      |      - 2 * sum(CAST(e.embedding[s.s*8+j.j] AS DOUBLE) * CAST(cent.cemb[s.s*8+j.j] AS DOUBLE))
      |      + sum(CAST(cent.cemb[s.s*8+j.j] AS DOUBLE) * CAST(cent.cemb[s.s*8+j.j] AS DOUBLE)))
      |      * 1e6 + 0.5) / 1e6 AS ed
      |  FROM embeddings e, cent, range(0, 8) s(s), range(1, 9) j(j)
      |  GROUP BY e.vec_id, e.label, cent.c, s.s),
      |code AS (
      |  SELECT vec_id, label, s, c FROM ed
      |  QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY ed, c) = 1),
      |approx AS (
      |  SELECT code.vec_id, code.label,
      |         CAST(sum(CAST(qd.qdist AS DECIMAL(28,6))) AS DOUBLE) AS approx_dist
      |  FROM code JOIN qd ON code.s = qd.s AND code.c = qd.c
      |  GROUP BY code.vec_id, code.label
      |  ORDER BY approx_dist, vec_id
      |  LIMIT 10)
      |SELECT a.vec_id, a.label, a.approx_dist,
      |  floor(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.qemb[i.i] AS DOUBLE)) /
      |    (sqrt(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)))
      |     * sqrt(sum(CAST(q.qemb[i.i] AS DOUBLE) * CAST(q.qemb[i.i] AS DOUBLE))))
      |    * 1e6 + 0.5) / 1e6 AS cosine
      |FROM approx a JOIN embeddings e USING (vec_id), q, range(1, 65) i(i)
      |GROUP BY a.vec_id, a.label, a.approx_dist
      |ORDER BY a.approx_dist, a.vec_id""".stripMargin

  // x50: raw-idf TF-IDF — integer inputs + IEEE division only, so both
  // engines compute the identical double with no libm (ln) involvement
  val x50: String =
    """WITH dt AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM dt GROUP BY doc_id, term),
      |idf AS (
      |  SELECT term,
      |         CAST((SELECT count(DISTINCT doc_id) FROM dt) AS DOUBLE)
      |           / CAST(count(*) AS DOUBLE) AS idf
      |  FROM tf GROUP BY term),
      |sc AS (
      |  SELECT tf.doc_id, tf.term,
      |         floor(CAST(tf.tf AS DOUBLE) * idf.idf * 1e6 + 0.5) / 1e6 AS tfidf
      |  FROM tf JOIN idf USING (term)),
      |r AS (
      |  SELECT doc_id, term, tfidf,
      |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INT) AS rnk
      |  FROM sc)
      |SELECT doc_id, rnk, term, tfidf FROM r
      |WHERE rnk <= 3
      |ORDER BY doc_id, rnk""".stripMargin

  // x51: x16's score CTEs + exact rank-arithmetic p25 per language — no
  // quantile interpolation anywhere, so both engines pick the identical row
  val x51: String =
    """WITH t AS (
      |  SELECT doc_id, length(replace(text, ' ', '')) AS n_alpha FROM documents),
      |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |st AS (
      |  SELECT doc_id, count(*) AS n_tokens,
      |         sum(CASE WHEN token IN ('the', 'a', 'of', 'to', 'and') THEN 1 ELSE 0 END) AS n_stop
      |  FROM tok GROUP BY doc_id),
      |sc AS (
      |  SELECT s.doc_id, d.lang,
      |         floor((0.4 * least(CAST(s.n_tokens AS DOUBLE), 50.0) / 50.0
      |             + 0.3 * (1.0 - CAST(s.n_stop AS DOUBLE) / s.n_tokens)
      |             + 0.3 * least(CAST(t.n_alpha AS DOUBLE) / s.n_tokens, 10.0) / 10.0)
      |           * 100000000 + 0.5) / 100000000 AS quality_score
      |  FROM st s JOIN t ON s.doc_id = t.doc_id JOIN documents d ON s.doc_id = d.doc_id),
      |r AS (
      |  SELECT doc_id, lang, quality_score,
      |         row_number() OVER (PARTITION BY lang ORDER BY quality_score, doc_id) AS rn,
      |         count(*) OVER (PARTITION BY lang) AS n
      |  FROM sc),
      |thr AS (
      |  SELECT lang, quality_score AS lang_p25 FROM r
      |  WHERE rn = greatest(CAST(ceil(CAST(n AS DOUBLE) / 4) AS INT), 1))
      |SELECT sc.doc_id, sc.lang, sc.quality_score, thr.lang_p25
      |FROM sc JOIN thr USING (lang)
      |WHERE sc.quality_score >= thr.lang_p25
      |ORDER BY sc.doc_id""".stripMargin

  // x52: x32's assignment CTEs + a decimal-exact element-wise mean — the
  // order-independent aggregation both engines compute identically
  val x52: String =
    """WITH c AS (
      |  SELECT vec_id AS cid, embedding AS cemb FROM embeddings
      |  WHERE vec_id BETWEEN 1 AND 8),
      |ac AS (
      |  SELECT e.vec_id, c.cid,
      |    floor(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(c.cemb[i.i] AS DOUBLE)) /
      |      (sqrt(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)))
      |       * sqrt(sum(CAST(c.cemb[i.i] AS DOUBLE) * CAST(c.cemb[i.i] AS DOUBLE))))
      |      * 1e6 + 0.5) / 1e6 AS ac
      |  FROM embeddings e, c, range(1, 65) i(i)
      |  GROUP BY 1, 2),
      |assign AS (
      |  SELECT vec_id, cid FROM ac
      |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ac DESC, cid) = 1),
      |nc AS (
      |  SELECT a.cid, CAST(i.i AS INT) AS pos,
      |         CAST(count(*) AS BIGINT) AS n_members,
      |         CAST(sum(CAST(floor(CAST(e.embedding[i.i] AS DOUBLE) * 1e6 + 0.5) / 1e6
      |                        AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS m
      |  FROM embeddings e JOIN assign a USING (vec_id), range(1, 65) i(i)
      |  GROUP BY a.cid, i.i)
      |SELECT cid, pos, floor(m * 1e6 + 0.5) / 1e6 AS centroid, n_members
      |FROM nc
      |ORDER BY cid, pos""".stripMargin

  // x53: chunk-level dedup signal — DuckDB's inclusive 1-based list slice
  // toks[a : b] mirrors Spark's slice(toks, a, 20) clamping, and both
  // engines compute ceil(len/20.0) over the same double
  val x53: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |ch AS (
      |  SELECT doc_id, unnest(list_transform(
      |    range(0, CAST(ceil(len(toks) / 20.0) AS INT)),
      |    c -> md5(array_to_string(list_slice(toks, c * 20 + 1, c * 20 + 20), ' ')))) AS ch
      |  FROM t),
      |f AS (SELECT doc_id, ch, count(*) OVER (PARTITION BY ch) AS cnt FROM ch)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
      |       CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
      |       floor(CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |             / count(*) * 1000000 + 0.5) / 1000000 AS dup_chunk_frac
      |FROM f
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  val x54: String =
    """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
      |k AS (SELECT min(n) AS k FROM c),
      |r AS (
      |  SELECT source, doc_id,
      |         CAST(row_number() OVER (PARTITION BY source
      |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
      |  FROM documents)
      |SELECT source, rn, doc_id FROM r, k WHERE rn <= k
      |ORDER BY source, rn""".stripMargin

  // x55: Simpson diversity — every operand is an exact BIGINT polynomial,
  // the single division is the only float op, identical in both engines
  val x55: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |             FROM documents),
      |cnt AS (SELECT doc_id, token, count(*) AS n FROM tok GROUP BY 1, 2),
      |agg AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
      |               CAST(count(*) AS BIGINT) AS n_distinct,
      |               CAST(sum(n * n) AS BIGINT) AS sum_sq
      |        FROM cnt GROUP BY 1)
      |SELECT doc_id, n_tokens, n_distinct,
      |       floor(CAST(n_tokens * n_tokens - sum_sq AS DOUBLE)
      |             / CAST(n_tokens * n_tokens AS DOUBLE) * 1000000 + 0.5)
      |         / 1000000 AS simpson_diversity,
      |       floor(CAST(n_tokens * n_tokens AS DOUBLE) / CAST(sum_sq AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS inv_simpson
      |FROM agg
      |ORDER BY doc_id""".stripMargin

  // x56: same floor-rounded cosine as x28 (kNN cosines can be negative, so
  // no bare round()); majority = (count DESC, label) row_number, matching
  // Spark's max(struct(n, -label))
  val x56: String =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qemb FROM embeddings
      |           WHERE vec_id % 50 = 0),
      |cos AS (
      |  SELECT q.qid, e.vec_id, e.label,
      |         floor(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.qemb[i.i] AS DOUBLE)) /
      |           (sqrt(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)))
      |            * sqrt(sum(CAST(q.qemb[i.i] AS DOUBLE) * CAST(q.qemb[i.i] AS DOUBLE))))
      |           * 1000000 + 0.5) / 1000000 AS cosine
      |  FROM embeddings e, q, range(1, 65) i(i)
      |  WHERE e.vec_id <> q.qid
      |  GROUP BY q.qid, e.vec_id, e.label),
      |top AS (SELECT * FROM cos
      |        QUALIFY row_number() OVER (PARTITION BY qid
      |          ORDER BY cosine DESC, vec_id) <= 5),
      |votes AS (SELECT qid, label, count(*) AS n,
      |                 sum(CAST(cosine AS DECIMAL(28,6))) AS sc
      |          FROM top GROUP BY 1, 2),
      |best AS (SELECT qid, label AS pred_label, CAST(n AS BIGINT) AS n_votes
      |         FROM votes
      |         QUALIFY row_number() OVER (PARTITION BY qid
      |           ORDER BY n DESC, label) = 1),
      |mc AS (SELECT qid,
      |              floor(CAST(sum(sc) AS DOUBLE) / CAST(sum(n) AS BIGINT)
      |                    * 1000000 + 0.5) / 1000000 AS mean_cosine
      |       FROM votes GROUP BY 1)
      |SELECT b.qid AS vec_id, b.pred_label, b.n_votes, mc.mean_cosine
      |FROM best b JOIN mc ON b.qid = mc.qid
      |ORDER BY vec_id""".stripMargin

  // x57: x20's candidate CTEs verbatim, scored as directional containment
  val x57: String =
    s"""WITH $shingleCte,
      |shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
      |mh AS (
      |  SELECT doc_id, j, min(md5(concat(CAST(j AS VARCHAR), '|', shingle))) AS mh
      |  FROM sh, range(0, 16) s(j) GROUP BY doc_id, j),
      |band AS (
      |  SELECT doc_id, j // 4 AS band, md5(string_agg(mh, ',' ORDER BY j)) AS bh
      |  FROM mh GROUP BY doc_id, j // 4),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |  FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
      |sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
      |inter AS (
      |  SELECT c.d1, c.d2, count(*) AS n_common
      |  FROM cand c
      |  JOIN shd s1 ON s1.doc_id = c.d1
      |  JOIN shd s2 ON s2.doc_id = c.d2 AND s2.shingle = s1.shingle
      |  GROUP BY c.d1, c.d2)
      |SELECT i.d1, i.d2,
      |       CAST(z1.n AS BIGINT) AS n1, CAST(z2.n AS BIGINT) AS n2,
      |       CAST(i.n_common AS BIGINT) AS n_common,
      |       floor(CAST(i.n_common AS DOUBLE) / z1.n * 1000000 + 0.5)
      |         / 1000000 AS containment_a,
      |       floor(CAST(i.n_common AS DOUBLE) / z2.n * 1000000 + 0.5)
      |         / 1000000 AS containment_b
      |FROM inter i
      |JOIN sizes z1 ON z1.doc_id = i.d1
      |JOIN sizes z2 ON z2.doc_id = i.d2
      |WHERE greatest(CAST(i.n_common AS DOUBLE) / z1.n,
      |               CAST(i.n_common AS DOUBLE) / z2.n) >= 0.5
      |ORDER BY d1, d2""".stripMargin

  // x59: x52's assignment CTEs + within-cluster pair cosines, both sides
  // rounding the identical IEEE quotient before the τ gate and the argmax
  val x59: String =
    """WITH c AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings
      |           WHERE vec_id BETWEEN 1 AND 8),
      |ac AS (
      |  SELECT e.vec_id, c.cid,
      |    floor(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(c.cemb[i.i] AS DOUBLE)) /
      |      (sqrt(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)))
      |       * sqrt(sum(CAST(c.cemb[i.i] AS DOUBLE) * CAST(c.cemb[i.i] AS DOUBLE))))
      |      * 1e6 + 0.5) / 1e6 AS ac
      |  FROM embeddings e, c, range(1, 65) i(i)
      |  GROUP BY 1, 2),
      |assign AS (
      |  SELECT vec_id, cid FROM ac
      |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ac DESC, cid) = 1),
      |pair AS (
      |  SELECT a1.cid, a1.vec_id AS v1, a2.vec_id AS v2,
      |    floor(sum(CAST(e1.embedding[i.i] AS DOUBLE) * CAST(e2.embedding[i.i] AS DOUBLE)) /
      |      (sqrt(sum(CAST(e1.embedding[i.i] AS DOUBLE) * CAST(e1.embedding[i.i] AS DOUBLE)))
      |       * sqrt(sum(CAST(e2.embedding[i.i] AS DOUBLE) * CAST(e2.embedding[i.i] AS DOUBLE))))
      |      * 1e6 + 0.5) / 1e6 AS cos
      |  FROM assign a1
      |  JOIN assign a2 ON a1.cid = a2.cid AND a1.vec_id < a2.vec_id
      |  JOIN embeddings e1 ON e1.vec_id = a1.vec_id
      |  JOIN embeddings e2 ON e2.vec_id = a2.vec_id,
      |  range(1, 65) i(i)
      |  GROUP BY 1, 2, 3),
      |dup AS (
      |  SELECT v2 AS vec_id, min(v1) AS canonical, CAST(count(*) AS BIGINT) AS n_near
      |  FROM pair WHERE cos >= 0.35 GROUP BY 1)
      |SELECT a.vec_id, a.cid,
      |       coalesce(d.canonical, a.vec_id) AS canonical_id,
      |       CAST(CASE WHEN d.canonical IS NOT NULL THEN 1 ELSE 0 END AS INT) AS is_dup,
      |       coalesce(d.n_near, 0) AS n_near
      |FROM assign a LEFT JOIN dup d USING (vec_id)
      |ORDER BY a.vec_id""".stripMargin

  // x60: all-integer running offsets; the one division is by 2048 (2^11,
  // exact in IEEE) so floor() agrees bit-for-bit
  val x60: String =
    """WITH t AS (
      |  SELECT doc_id, doc_id % 8 AS stripe,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |o AS (
      |  SELECT doc_id, stripe, n_tokens,
      |         coalesce(sum(n_tokens) OVER (PARTITION BY stripe ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |  FROM t)
      |SELECT stripe, CAST(floor(off / 2048.0) AS BIGINT) AS bin,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
      |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM o
      |GROUP BY 1, 2
      |ORDER BY stripe, bin""".stripMargin

  // x61: latest-by-sequence-number via QUALIFY mirrors Spark's
  // max(struct(event_id, value)); the secondary value DESC tie-break matches
  // struct-max exactly if (user_id, event_id) ever duplicated, and 'keep' is
  // decided by join-miss (d.user_id IS NULL) — the same matched-flag
  // semantics as the Spark side, robust to NULL new_value.
  val x61: String =
    """WITH delta AS (
      |  SELECT user_id, value AS new_value FROM events
      |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC, value DESC) = 1)
      |SELECT coalesce(c.c_custkey, d.user_id) AS user_id,
      |       c.c_acctbal AS old_value,
      |       coalesce(d.new_value, c.c_acctbal) AS value,
      |       CASE WHEN c.c_custkey IS NULL THEN 'insert'
      |            WHEN d.user_id IS NULL THEN 'keep'
      |            ELSE 'update' END AS op
      |FROM customer c FULL OUTER JOIN delta d ON c.c_custkey = d.user_id
      |ORDER BY user_id""".stripMargin

  // x62: x20's candidate CTEs + per-pair signature agreement; n_eq/16 is
  // exact (power-of-two divisor), abs_err computed from the two ROUNDED
  // columns so every operand is already engine-identical
  val x62: String =
    s"""WITH $shingleCte,
      |shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
      |mh AS (
      |  SELECT doc_id, j, min(md5(concat(CAST(j AS VARCHAR), '|', shingle))) AS mh
      |  FROM sh, range(0, 16) s(j) GROUP BY doc_id, j),
      |band AS (
      |  SELECT doc_id, j // 4 AS band, md5(string_agg(mh, ',' ORDER BY j)) AS bh
      |  FROM mh GROUP BY doc_id, j // 4),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |  FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
      |sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
      |agree AS (
      |  SELECT c.d1, c.d2, sum(CASE WHEN m1.mh = m2.mh THEN 1 ELSE 0 END) AS n_eq
      |  FROM cand c
      |  JOIN mh m1 ON m1.doc_id = c.d1
      |  JOIN mh m2 ON m2.doc_id = c.d2 AND m2.j = m1.j
      |  GROUP BY 1, 2),
      |inter AS (
      |  SELECT c.d1, c.d2, count(*) AS n_common
      |  FROM cand c
      |  JOIN shd s1 ON s1.doc_id = c.d1
      |  JOIN shd s2 ON s2.doc_id = c.d2 AND s2.shingle = s1.shingle
      |  GROUP BY 1, 2),
      |e AS (
      |  SELECT a.d1, a.d2,
      |         CAST(coalesce(i.n_common, 0) AS BIGINT) AS n_common,
      |         floor(CAST(a.n_eq AS DOUBLE) / 16 * 1000000 + 0.5) / 1000000 AS est_jaccard,
      |         floor(CAST(coalesce(i.n_common, 0) AS DOUBLE)
      |               / (z1.n + z2.n - coalesce(i.n_common, 0)) * 1000000 + 0.5)
      |           / 1000000 AS jaccard
      |  FROM agree a
      |  LEFT JOIN inter i ON i.d1 = a.d1 AND i.d2 = a.d2
      |  JOIN sizes z1 ON z1.doc_id = a.d1
      |  JOIN sizes z2 ON z2.doc_id = a.d2)
      |SELECT d1, d2, n_common, est_jaccard, jaccard,
      |       floor(abs(est_jaccard - jaccard) * 1000000 + 0.5) / 1000000 AS abs_err
      |FROM e
      |ORDER BY d1, d2""".stripMargin

  // x63: x50's idf ledger (raw N/df, no ln) folded to a per-doc mean —
  // per-token contributions rounded once then summed as DECIMAL
  val x63: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |             FROM documents),
      |dt AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM dt),
      |idf AS (
      |  SELECT term, floor(CAST(n_docs AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |                     * 1000000 + 0.5) / 1000000 AS idf6
      |  FROM dt, n GROUP BY term, n_docs)
      |SELECT dt.doc_id,
      |       CAST(sum(dt.tf) AS BIGINT) AS n_tokens,
      |       CAST(count(*) AS BIGINT) AS n_terms,
      |       floor(CAST(sum(CAST(floor(CAST(dt.tf AS DOUBLE) * idf.idf6 * 1000000 + 0.5)
      |                           / 1000000 AS DECIMAL(28,6))) AS DOUBLE)
      |             / CAST(sum(dt.tf) AS BIGINT) * 1000000 + 0.5) / 1000000 AS rarity
      |FROM dt JOIN idf USING (term)
      |GROUP BY dt.doc_id
      |ORDER BY dt.doc_id""".stripMargin

  // The PII redaction stages — (pattern, replacement) in fixed order,
  // defined ONCE and expanded into both the x64 oracle and x69's cleaned
  // CTE, mirroring LlmQueries.piiStages on the Spark side. The regexes are
  // the Java-regex/RE2 shared dialect; DuckDB needs the explicit 'g' flag
  // (Spark's regexp_replace is global by default).
  // lazy: x69 (declared earlier in this object) expands these during
  // object init — a plain val here would still be null at that point
  private lazy val piiSqlStages: Seq[(String, String)] = Seq(
    ("""[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""", "<EMAIL>"),
    ("""\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b""", "<IP>"),
    ("""\+\d{7,15}""", "<PHONE>"))
  private def piiRedactSql(expr: String): String =
    piiSqlStages.foldLeft(expr) { case (e, (re, tok)) =>
      s"regexp_replace($e, '$re', '$tok', 'g')"
    }

  // x64: counts taken on the SAME progressively redacted text as the Spark
  // side (each count = substitutions that stage performed)
  val x64: String = {
    val Seq((eRe, eTok), (iRe, iTok), (pRe, pTok)) = piiSqlStages
    s"""WITH s1 AS (
      |  SELECT doc_id, text,
      |         regexp_replace(text, '$eRe', '$eTok', 'g') AS r1
      |  FROM documents),
      |s2 AS (
      |  SELECT doc_id, text, r1,
      |         regexp_replace(r1, '$iRe', '$iTok', 'g') AS r2
      |  FROM s1),
      |s3 AS (
      |  SELECT doc_id, text, r1, r2,
      |         regexp_replace(r2, '$pRe', '$pTok', 'g') AS r3
      |  FROM s2)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '$eRe')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(r1, '$iRe')) AS BIGINT) AS n_ips,
      |  CAST(len(regexp_extract_all(r2, '$pRe')) AS BIGINT) AS n_phones,
      |  CAST(length(r3) AS BIGINT) AS clean_len,
      |  md5(r3) AS clean_hash
      |FROM s3
      |ORDER BY doc_id""".stripMargin
  }

  // x65: top-20 vocabulary with the (count DESC, term ASC) total-order
  // tie-break, then per-doc OOV rate via a left join
  val x65: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |             FROM documents),
      |v AS (SELECT term FROM (SELECT term, count(*) AS cnt FROM tok GROUP BY 1)
      |      ORDER BY cnt DESC, term LIMIT 20)
      |SELECT tok.doc_id,
      |       CAST(count(*) AS BIGINT) AS n_tokens,
      |       CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |       floor(CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |             / count(*) * 1000000 + 0.5) / 1000000 AS oov_rate
      |FROM tok LEFT JOIN v ON tok.term = v.term
      |GROUP BY tok.doc_id
      |ORDER BY tok.doc_id""".stripMargin

  // x66: x13's band/bucket/canonical CTEs verbatim, then per-group argmax
  // via (n_chars DESC, doc_id ASC) — row_number's total order equals
  // Spark's max(struct(n_chars, -doc_id))
  val x66: String =
    s"""WITH $shingleCte,
      |mh AS (
      |  SELECT doc_id, j, min(md5(concat(CAST(j AS VARCHAR), '|', shingle))) AS mh
      |  FROM sh, range(0, 16) s(j) GROUP BY doc_id, j),
      |band AS (
      |  SELECT doc_id, j // 4 AS band, md5(string_agg(mh, ',' ORDER BY j)) AS bh
      |  FROM mh GROUP BY doc_id, j // 4),
      |buck AS (SELECT band, bh, min(doc_id) AS rep FROM band GROUP BY band, bh),
      |canon AS (
      |  SELECT b.doc_id, min(k.rep) AS canonical
      |  FROM band b JOIN buck k ON b.band = k.band AND b.bh = k.bh
      |  GROUP BY b.doc_id),
      |a AS (
      |  SELECT d.doc_id, d.n_chars, coalesce(c.canonical, d.doc_id) AS group_id
      |  FROM documents d LEFT JOIN canon c ON d.doc_id = c.doc_id),
      |r AS (
      |  SELECT group_id, doc_id, n_chars,
      |         row_number() OVER (PARTITION BY group_id
      |                            ORDER BY n_chars DESC, doc_id ASC) AS rn,
      |         count(*) OVER (PARTITION BY group_id) AS nm
      |  FROM a)
      |SELECT group_id, CAST(nm AS BIGINT) AS n_members, doc_id AS keep_id,
      |       CAST(n_chars AS BIGINT) AS keep_chars
      |FROM r WHERE rn = 1
      |ORDER BY group_id""".stripMargin

  // x67: distinct (hash, source) self-join — count(*) IS the distinct-hash
  // count per pair; Jaccard from the per-source totals
  val x67: String =
    """WITH hs AS (SELECT DISTINCT md5(text) AS h, source FROM documents),
      |ps AS (SELECT source, count(*) AS n FROM hs GROUP BY source),
      |sh AS (
      |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
      |  FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT sh.source_a, sh.source_b, CAST(sh.n_shared AS BIGINT) AS n_shared,
      |       floor(CAST(sh.n_shared AS DOUBLE) / (pa.n + pb.n - sh.n_shared)
      |             * 1000000 + 0.5) / 1000000 AS jaccard
      |FROM sh
      |JOIN ps pa ON pa.source = sh.source_a
      |JOIN ps pb ON pb.source = sh.source_b
      |ORDER BY sh.source_a, sh.source_b""".stripMargin

  // x68: corpus-wide hash multiplicity joined back per doc, aggregated per
  // source
  val x68: String =
    """WITH d AS (SELECT doc_id, source, md5(text) AS h FROM documents),
      |m AS (SELECT h, count(*) AS n_copies FROM d GROUP BY h)
      |SELECT d.source,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(CASE WHEN m.n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
      |       floor(CAST(sum(CASE WHEN m.n_copies > 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |             / count(*) * 1000000 + 0.5) / 1000000 AS dup_rate
      |FROM d JOIN m ON d.h = m.h
      |GROUP BY d.source
      |ORDER BY d.source""".stripMargin

  // x70: IS DISTINCT FROM mirrors Spark's not(<=>); the three windows share
  // one WINDOW clause so both engines order change rows by the exact CDC
  // sequence number; version cast BIGINT to match Spark's long row_number
  val x70: String =
    """WITH chg AS (
      |  SELECT user_id, event_id, value,
      |         lag(value) OVER w AS prev_value,
      |         row_number() OVER w AS rn
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
      |scd AS (
      |  SELECT user_id, event_id, value FROM chg
      |  WHERE rn = 1 OR value IS DISTINCT FROM prev_value)
      |SELECT user_id,
      |       CAST(row_number() OVER w AS BIGINT) AS version,
      |       value,
      |       event_id AS valid_from,
      |       lead(event_id) OVER w AS valid_to,
      |       CASE WHEN lead(event_id) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
      |FROM scd WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
      |ORDER BY user_id, version""".stripMargin

  // x71: n_chars div 2 must be INTEGER division in both dialects (a double
  // half-length would round differently at the cast); DuckDB's // floors
  // like Spark's div. The md5(doc_id) change set matches Spark substring
  // on the same lowercase hex.
  val x71: String =
    """WITH old AS (
      |  SELECT doc_id, source,
      |         md5(CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= '2'
      |                  THEN substring(text, 1, greatest(n_chars // 2, 1))
      |                  ELSE text END) AS h_old
      |  FROM documents WHERE doc_id % 7 <> 0),
      |cur AS (
      |  SELECT doc_id, source AS source_cur, md5(text) AS h_cur
      |  FROM documents WHERE doc_id % 11 <> 0)
      |SELECT coalesce(o.source, c.source_cur) AS source,
      |       CASE WHEN o.doc_id IS NULL THEN 'added'
      |            WHEN c.doc_id IS NULL THEN 'removed'
      |            WHEN o.h_old = c.h_cur THEN 'unchanged'
      |            ELSE 'changed' END AS status,
      |       CAST(count(*) AS BIGINT) AS n_docs
      |FROM old o FULL OUTER JOIN cur c ON o.doc_id = c.doc_id
      |GROUP BY 1, 2
      |ORDER BY source, status""".stripMargin

  // x72: pairs explode over the distinct-word frame in BOTH engines (the
  // lateral unnest(generate_series) runs per vocabulary word, like Spark's
  // explode(sequence) over the word aggregate); sum cast BIGINT (DuckDB
  // integer sums are HUGEINT)
  val x72: String =
    """WITH words AS (
      |  SELECT word, count(*) AS n_occ
      |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE length(word) >= 2
      |  GROUP BY word),
      |pairs AS (
      |  SELECT substring(word, CAST(i AS INT), 2) AS pair, n_occ
      |  FROM words, unnest(generate_series(1, length(word) - 1)) AS t(i))
      |SELECT pair, CAST(sum(n_occ) AS BIGINT) AS pair_count
      |FROM pairs GROUP BY pair
      |ORDER BY pair_count DESC, pair LIMIT 20""".stripMargin

  // x73: the PLAIN join — the salted rewrite must be invisible to it.
  // Fixed-point µchar means via integer floor division (// here, div in
  // Spark — both floor on the non-negative operands); the deviation double
  // uses the shared floor-round pattern (can be negative, so never bare
  // round()).
  val x73: String =
    """WITH dim AS (
      |  SELECT lang, sum(n_chars) * 1000000 // count(*) AS lang_avg_micro
      |  FROM documents GROUP BY lang)
      |SELECT d.source,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
      |       CAST(sum(m.lang_avg_micro) AS BIGINT) AS sum_lang_avg_micro,
      |       floor(CAST(sum(d.n_chars) * 1000000 - sum(m.lang_avg_micro) AS DOUBLE)
      |             / count(*) / 1000000 * 1000000 + 0.5) / 1000000 AS avg_deviation
      |FROM documents d JOIN dim m USING (lang)
      |GROUP BY d.source
      |ORDER BY d.source""".stripMargin

  // x74/x75: all time math on the raw epoch-ns BIGINT (epoch_ns here, the
  // nanosAsLong long in Spark) — exact in both engines where the µs-
  // truncated timestamp could disagree inside one µs. Integer week
  // divisions are floor-vs-truncate-identical because every operand is
  // provably ≥ 0 (fixture starts 2024-01-01, anchor is 2024-01-01).
  val x74: String =
    """WITH t1 AS (
      |  SELECT user_id, min(epoch_ns(ts)) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |t2 AS (
      |  SELECT e.user_id, min(epoch_ns(e.ts)) AS t2
      |  FROM events e JOIN t1 ON e.user_id = t1.user_id
      |  WHERE e.event_type = 'click' AND epoch_ns(e.ts) > t1.t1
      |  GROUP BY e.user_id),
      |t3 AS (
      |  SELECT e.user_id, min(epoch_ns(e.ts)) AS t3
      |  FROM events e JOIN t2 ON e.user_id = t2.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > t2.t2
      |  GROUP BY e.user_id)
      |SELECT stage, n_users FROM (
      |  SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM t1
      |  UNION ALL SELECT '2_click', CAST(count(*) AS BIGINT) FROM t2
      |  UNION ALL SELECT '3_purchase', CAST(count(*) AS BIGINT) FROM t3)
      |ORDER BY stage""".stripMargin

  val x75: String =
    """WITH cohort AS (
      |  SELECT user_id,
      |         (min(epoch_ns(ts)) - 1704067200000000000) // 604800000000000 AS cohort_week
      |  FROM events GROUP BY user_id),
      |active AS (
      |  SELECT DISTINCT user_id,
      |         (epoch_ns(ts) - 1704067200000000000) // 604800000000000 AS week
      |  FROM events)
      |SELECT c.cohort_week, a.week - c.cohort_week AS weeks_since,
      |       CAST(count(*) AS BIGINT) AS n_users
      |FROM active a JOIN cohort c ON a.user_id = c.user_id
      |GROUP BY 1, 2
      |ORDER BY cohort_week, weeks_since""".stripMargin

  // x76/x77: shared-oracle roundtrip proofs over the ORIGINAL parquet
  // (x40/x58's pattern) — a hash match proves the bucketed-table join
  // cycle (x76) / the partitioned-write pruned read (x77) lossless and
  // correct, since the oracle never sees the staged layout at all.
  val x76: String =
    """SELECT lang,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  val x77: String =
    """SELECT source,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |       CAST(sum(length(text)) AS BIGINT) AS sum_text_len
      |FROM documents
      |WHERE lang = 'en'
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // x78: original-parquet roundtrip oracle (x40/x58's pattern) for the
  // shatter→compact cycle.
  val x78: String =
    """SELECT lang,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |       CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
      |       min(doc_id) AS min_id,
      |       max(doc_id) AS max_id
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  // x79: string_agg with ORDER BY doc_id skips the NULLed tail exactly
  // like Spark's null-skipping collect_list; posting heads compare as
  // strings (array columns are representation-fragile in the harness).
  val x79: String =
    """WITH postings AS (
      |  SELECT DISTINCT term, doc_id FROM (
      |    SELECT unnest(string_split(text, ' ')) AS term, doc_id FROM documents)),
      |ranked AS (
      |  SELECT term, doc_id,
      |         row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
      |  FROM postings)
      |SELECT term, CAST(count(*) AS BIGINT) AS df,
      |       string_agg(CASE WHEN rn <= 20 THEN CAST(doc_id AS VARCHAR) END,
      |                  '|' ORDER BY doc_id) AS posting_head
      |FROM ranked GROUP BY term
      |ORDER BY term""".stripMargin

  // x80: u is ('0x' || md5-prefix)::BIGINT / 2^32 — the exact hex-parse
  // of Spark's conv(..., 16, 10); power-of-two divisor keeps u
  // bit-identical, and quality_score is x16's 1e-8-floored double, so
  // the u < score decision agrees row-for-row across engines.
  val x80: String =
    """WITH t AS (
      |  SELECT doc_id, length(replace(text, ' ', '')) AS n_alpha FROM documents),
      |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |st AS (
      |  SELECT doc_id, count(*) AS n_tokens,
      |         sum(CASE WHEN token IN ('the', 'a', 'of', 'to', 'and') THEN 1 ELSE 0 END) AS n_stop
      |  FROM tok GROUP BY doc_id),
      |q AS (
      |  SELECT s.doc_id,
      |         floor((0.4 * least(CAST(s.n_tokens AS DOUBLE), 50.0) / 50.0
      |             + 0.3 * (1.0 - CAST(s.n_stop AS DOUBLE) / s.n_tokens)
      |             + 0.3 * least(CAST(t.n_alpha AS DOUBLE) / s.n_tokens, 10.0) / 10.0)
      |           * 100000000 + 0.5) / 100000000 AS quality_score
      |  FROM st s JOIN t ON s.doc_id = t.doc_id),
      |samp AS (
      |  SELECT d.lang, q.quality_score,
      |         (('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT)
      |           / 4294967296.0 AS u
      |  FROM documents d JOIN q ON d.doc_id = q.doc_id)
      |SELECT lang,
      |       CAST(count(*) AS BIGINT) AS n_total,
      |       CAST(sum(CASE WHEN u < quality_score THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |       floor(CAST(sum(CASE WHEN u < quality_score THEN 1 ELSE 0 END) AS DOUBLE)
      |             / count(*) * 1000000 + 0.5) / 1000000 AS accept_rate,
      |       floor(CAST(sum(CASE WHEN u < quality_score
      |                           THEN CAST(quality_score AS DECIMAL(18,9)) END) AS DOUBLE)
      |             / sum(CASE WHEN u < quality_score THEN 1 ELSE 0 END)
      |             * 1000000 + 0.5) / 1000000 AS avg_kept_quality
      |FROM samp GROUP BY lang
      |ORDER BY lang""".stripMargin

  // x81: the argmax is reached through a max-burst CTE + min(ts) rejoin
  // (Spark uses max(struct(burst, -ts)) in one aggregate) — the hash match
  // pins the two formulations against each other.
  val x81: String =
    """WITH b AS (
      |  SELECT user_id, epoch_us(ts) AS tsu,
      |         count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
      |                        RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW) AS burst
      |  FROM events),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |         CAST(max(burst) AS BIGINT) AS max_burst
      |  FROM b GROUP BY user_id)
      |SELECT m.user_id, m.n_events, m.max_burst, min(b.tsu) AS peak_ts_us
      |FROM m JOIN b ON b.user_id = m.user_id AND b.burst = m.max_burst
      |GROUP BY m.user_id, m.n_events, m.max_burst
      |ORDER BY m.user_id""".stripMargin

  // x90: identical linear recursion in both engines — same event order,
  // same left-to-right float accumulation, so pack sums agree bit-for-bit
  // before the output rounding.
  val x90: String =
    """WITH RECURSIVE ev AS (
      |  SELECT user_id, value, rn FROM (
      |    SELECT user_id, value,
      |           row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      |    FROM events WHERE value IS NOT NULL AND value >= 0) WHERE rn <= 12),
      |r(user_id, rn, acc, pack) AS (
      |  SELECT user_id, rn, value, 1 FROM ev WHERE rn = 1
      |  UNION ALL
      |  SELECT e.user_id, e.rn,
      |         CASE WHEN r.acc + e.value > 100.0 THEN e.value
      |              ELSE r.acc + e.value END,
      |         CASE WHEN r.acc + e.value > 100.0 THEN r.pack + 1
      |              ELSE r.pack END
      |  FROM r JOIN ev e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
      |SELECT user_id, pack AS pack_id,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       floor(max(acc) * 1000000 + 0.5) / 1000000 AS pack_total
      |FROM r GROUP BY user_id, pack
      |ORDER BY user_id, pack_id""".stripMargin

  // x116: x90's recursion UNCAPPED (no rn<=12) — DuckDB iterates ~10² deep
  // at sf0.01 where each Spark UnionLoop step would be a full job; pins the
  // GreedyPack mapPartitions fold against an independent sequential engine
  val x116: String =
    """WITH RECURSIVE ev AS (
      |  SELECT user_id, value,
      |         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      |  FROM events WHERE value IS NOT NULL AND value >= 0),
      |r(user_id, rn, acc, pack) AS (
      |  SELECT user_id, rn, value, 1 FROM ev WHERE rn = 1
      |  UNION ALL
      |  SELECT e.user_id, e.rn,
      |         CASE WHEN r.acc + e.value > 100.0 THEN e.value
      |              ELSE r.acc + e.value END,
      |         CASE WHEN r.acc + e.value > 100.0 THEN r.pack + 1
      |              ELSE r.pack END
      |  FROM r JOIN ev e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
      |SELECT user_id, pack AS pack_id,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       floor(max(acc) * 1000000 + 0.5) / 1000000 AS pack_total
      |FROM r GROUP BY user_id, pack
      |ORDER BY user_id, pack_id""".stripMargin

  // x145: the same sequential reset-on-threshold recursion x116's oracle
  // runs, on the corpus per source — every accumulation and block boundary
  // of the distributed fold pinned by the CTE walk.
  val x145: String =
    """WITH RECURSIVE d0 AS (
      |  SELECT source, CAST(len(string_split(text, ' ')) AS DOUBLE) AS v,
      |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      |  FROM documents WHERE text IS NOT NULL),
      |r(source, rn, acc, pack) AS (
      |  SELECT source, rn, v, 1 FROM d0 WHERE rn = 1
      |  UNION ALL
      |  SELECT e.source, e.rn,
      |         CASE WHEN r.acc + e.v > 512.0 THEN e.v
      |              ELSE r.acc + e.v END,
      |         CASE WHEN r.acc + e.v > 512.0 THEN r.pack + 1
      |              ELSE r.pack END
      |  FROM r JOIN d0 e ON e.source = r.source AND e.rn = r.rn + 1)
      |SELECT source, CAST(pack AS BIGINT) AS pack_id,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(max(acc) AS BIGINT) AS block_tokens
      |FROM r
      |GROUP BY source, pack
      |ORDER BY source, pack_id""".stripMargin

  // x117: exact BIGINT token counts; sqrt rounded once then DECIMAL-summed
  // (order-independent denominator); every ratio one double op + one
  // half-up round — the identical float discipline as the Spark side
  val x117: String =
    """WITH s AS (
      |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_toks
      |  FROM documents GROUP BY source),
      |r AS (SELECT source, n_toks,
      |        floor(sqrt(CAST(n_toks AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS rsq
      |      FROM s),
      |d AS (SELECT CAST(sum(CAST(rsq AS DECIMAL(38,6))) AS DOUBLE) AS denom,
      |             CAST(sum(n_toks) AS BIGINT) AS tot_toks FROM r)
      |SELECT source, n_toks,
      |       floor(CAST(n_toks AS DOUBLE) / tot_toks * 1000000 + 0.5) / 1000000 AS nat_frac,
      |       floor(rsq / denom * 1000000 + 0.5) / 1000000 AS weight,
      |       CAST(floor(rsq / denom * 1000000.0) AS BIGINT) AS alloc_toks,
      |       floor((rsq / denom) / (CAST(n_toks AS DOUBLE) / tot_toks) * 1000000 + 0.5) / 1000000 AS sample_factor
      |FROM r, d
      |ORDER BY source""".stripMargin

  // x119: all four prep stages rebuilt in SQL — x115's strip CTEs, the
  // 30-token gate (same CASE for the empty-clean edge), keep-first dedup
  // on md5(clean), x117's round-then-DECIMAL-sum weight discipline
  val x119: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |ch0 AS (
      |  SELECT doc_id, unnest(list_transform(
      |    range(0, CAST(ceil(len(toks) / 20.0) AS INT)),
      |    c -> {'c': c,
      |          'chunk': array_to_string(list_slice(toks, c * 20 + 1, c * 20 + 20), ' ')})) AS s
      |  FROM t),
      |ch AS (SELECT doc_id, s.c AS c, s.chunk AS chunk FROM ch0),
      |bp AS (SELECT chunk FROM ch GROUP BY chunk HAVING count(DISTINCT doc_id) >= 3),
      |cl AS (SELECT ch.doc_id,
      |         coalesce(string_agg(CASE WHEN bp.chunk IS NULL THEN ch.chunk END,
      |                             ' ' ORDER BY ch.c), '') AS clean
      |       FROM ch LEFT JOIN bp ON ch.chunk = bp.chunk GROUP BY ch.doc_id),
      |k AS (SELECT cl.doc_id, d2.source, clean,
      |             CASE WHEN clean = '' THEN 0
      |                  ELSE CAST(len(string_split(clean, ' ')) AS BIGINT) END AS n_toks
      |      FROM cl JOIN documents d2 ON cl.doc_id = d2.doc_id
      |      WHERE CASE WHEN clean = '' THEN 0
      |                 ELSE len(string_split(clean, ' ')) END >= 30),
      |dd AS (SELECT doc_id, source, n_toks,
      |              row_number() OVER (PARTITION BY md5(clean) ORDER BY doc_id) AS rn
      |       FROM k),
      |src AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |               CAST(sum(n_toks) AS BIGINT) AS n_toks,
      |               floor(sqrt(CAST(sum(n_toks) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS rsq
      |        FROM dd WHERE rn = 1 GROUP BY source),
      |dn AS (SELECT CAST(sum(CAST(rsq AS DECIMAL(38,6))) AS DOUBLE) AS denom FROM src)
      |SELECT source, n_docs, n_toks,
      |       floor(rsq / denom * 1000000 + 0.5) / 1000000 AS weight,
      |       CAST(floor(rsq / denom * 1000000.0) AS BIGINT) AS alloc_toks
      |FROM src, dn
      |ORDER BY source""".stripMargin

  // x120: sessionization as WINDOW SQL — lag gap flags + running-sum
  // session assignment — pinning the engine's stateful flatMapGroups fold
  // (replayed batch-wise in the declared query) against the declarative
  // formulation. Values are pre-rounded to integer micro units (x90's
  // floor rule) so both engines sum integers: summation order cannot
  // split the hash. The running sum is ordered (us, event_id) to settle
  // the one tie case (a user's first two events at the same microsecond);
  // session membership itself depends only on the us gaps.
  // x122: the WINDOW formulation of per-key top-k — the declarative
  // semantics the custom TopKPerKey physical operator must reproduce
  // row-for-row. NULLS LAST spelled explicitly (Spark's desc_nulls_last);
  // (ts, event_id) is the unique tie-break; raw parquet doubles pass
  // through both engines bit-identically (no computed floats).
  val x122: String =
    """WITH r AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
      |         row_number() OVER (PARTITION BY user_id
      |           ORDER BY value DESC NULLS LAST, epoch_us(ts), event_id) AS rn
      |  FROM events)
      |SELECT user_id, event_id, ts_us, value
      |FROM r WHERE rn <= 3
      |ORDER BY user_id, event_id""".stripMargin

  // x123: x43's gram/bench grammar on the %10 split, exact semantics — the
  // Bloom prefilter is invisible in the result (false positives removed by
  // the exact join, false negatives impossible), so the oracle is the
  // plain intersection. Denominator from the doc row (len-4), matching the
  // Spark side's no-shuffle total.
  val x123: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 3),
      |    i -> md5(toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
      |             || ' ' || toks[i + 3] || ' ' || toks[i + 4]))) AS gh
      |  FROM t),
      |bench AS (SELECT DISTINCT gh FROM g WHERE doc_id % 10 = 0),
      |hit AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit,
      |         CAST(count(DISTINCT gh) AS BIGINT) AS n_hit_distinct
      |  FROM g JOIN bench USING (gh) WHERE doc_id % 10 <> 0 GROUP BY 1),
      |tot AS (
      |  SELECT doc_id, CAST(greatest(len(toks) - 4, 0) AS BIGINT) AS n_grams
      |  FROM t WHERE doc_id % 10 <> 0)
      |SELECT hit.doc_id, n_grams, n_hit, n_hit_distinct,
      |       floor(CAST(n_hit AS DOUBLE) / n_grams * 1000000 + 0.5)
      |         / 1000000 AS contamination_frac
      |FROM hit JOIN tot ON hit.doc_id = tot.doc_id
      |ORDER BY hit.doc_id""".stripMargin

  // x124: the same hashed-bigram bucket models from exact integer counts;
  // each bucket's log2 term floor-rounded once (x101's precedent), per-doc
  // fold as DECIMAL sum of 6-dp terms x integer counts (order-independent),
  // one division + floor-round at the edge. Hex->int via the x80/x118
  // '0x'-cast idiom.
  val x124: String =
    """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
      |           FROM documents WHERE text IS NOT NULL),
      |db AS (
      |  SELECT doc_id, source,
      |         ('0x' || substring(md5(toks[i] || ' ' || toks[i + 1]), 1, 6))::BIGINT
      |           % 128 AS b,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM t, LATERAL unnest(range(1, len(toks))) AS g(i)
      |  GROUP BY 1, 2, 3),
      |raw AS (SELECT b, CAST(sum(n) AS BIGINT) AS r_cnt FROM db GROUP BY 1),
      |tgt AS (SELECT b, CAST(sum(n) AS BIGINT) AS t_cnt FROM db
      |        WHERE source = 'src0' GROUP BY 1),
      |buckets AS (SELECT raw.b, coalesce(t_cnt, 0) AS t_cnt, r_cnt
      |            FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
      |tot AS (SELECT CAST(sum(t_cnt) AS BIGINT) AS t_tot,
      |               CAST(sum(r_cnt) AS BIGINT) AS r_tot FROM buckets),
      |terms AS (
      |  SELECT b,
      |         floor((log2((t_cnt + 1) / CAST(t_tot + 128 AS DOUBLE)) -
      |                log2((r_cnt + 1) / CAST(r_tot + 128 AS DOUBLE)))
      |               * 1000000 + 0.5) / 1000000 AS term
      |  FROM buckets, tot)
      |SELECT db.doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
      |       floor(CAST(sum(CAST(n * term AS DECIMAL(38,6))) AS DOUBLE)
      |             / sum(n) * 1000000 + 0.5) / 1000000 AS dsir_score
      |FROM db JOIN terms USING (b)
      |GROUP BY db.doc_id
      |ORDER BY db.doc_id""".stripMargin

  // x125: the two vintage projections UNION ALL'd over the ORIGINAL
  // parquet — the hash match pins mergeSchema's union-by-name alignment
  // and null-fill exactly (x40/x58/x121's shared-original-oracle pattern).
  val x125: String =
    """WITH merged AS (
      |  SELECT doc_id, text, lang,
      |         NULL::VARCHAR AS source, NULL::BIGINT AS n_chars
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, NULL::VARCHAR, NULL::VARCHAR, source, n_chars
      |  FROM documents)
      |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_null_text,
      |       CAST(sum(coalesce(n_chars, 0)) AS BIGINT) AS sum_chars,
      |       min(doc_id) AS min_id, max(doc_id) AS max_id
      |FROM merged
      |GROUP BY 1, 2
      |ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST""".stripMargin

  // x126: same integer cross-multiplied KS selection — the max runs over
  // exact BIGINT numerators, one double division + floor-round at the edge;
  // argmax tie-break = smallest n_chars in both engines.
  val x126: String =
    """WITH sv AS (
      |  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
      |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_src FROM sv GROUP BY 1),
      |gl AS (SELECT n_chars, CAST(sum(c) AS BIGINT) AS c_all FROM sv GROUP BY 1),
      |nall AS (SELECT CAST(sum(c_all) AS BIGINT) AS n_all FROM gl),
      |grid AS (
      |  SELECT t.source, g.n_chars, coalesce(s.c, 0) AS c, g.c_all,
      |         t.n_src, n.n_all
      |  FROM tot t CROSS JOIN gl g
      |  LEFT JOIN sv s ON s.source = t.source AND s.n_chars = g.n_chars
      |  CROSS JOIN nall n),
      |walked AS (
      |  SELECT source, n_chars, n_src, n_all - n_src AS n_rest,
      |         sum(c) OVER w AS cum_src, sum(c_all) OVER w AS cum_all
      |  FROM grid
      |  WINDOW w AS (PARTITION BY source ORDER BY n_chars ASC
      |               ROWS UNBOUNDED PRECEDING)),
      |d AS (
      |  SELECT source, n_chars, n_src, n_rest,
      |         abs(cum_src * n_rest - (cum_all - cum_src) * n_src) AS d_num
      |  FROM walked),
      |m AS (SELECT source, n_src, n_rest, max(d_num) AS d_max
      |      FROM d GROUP BY 1, 2, 3)
      |SELECT m.source, m.n_src, m.n_rest,
      |       min(d.n_chars) AS argmax_chars,
      |       floor(CAST(d_max AS DOUBLE)
      |             / (CAST(m.n_src AS DOUBLE) * CAST(m.n_rest AS DOUBLE))
      |             * 1000000 + 0.5) / 1000000 AS ks_d
      |FROM m JOIN d ON d.source = m.source AND d.d_num = m.d_max
      |GROUP BY m.source, m.n_src, m.n_rest, d_max
      |ORDER BY m.source""".stripMargin

  // x127: identical IEEE double arithmetic step-for-step (cast, subtract,
  // divide, floor(x+0.5), multiply-add — no transcendentals), so errors
  // agree bit-for-bit; err^2 round-12'd then DECIMAL-summed, round-9 edges.
  val x127: String =
    """WITH pe AS (
      |  SELECT vec_id, CAST(i.i AS INT) AS pos,
      |         CAST(embedding[i.i] AS DOUBLE) AS v
      |  FROM embeddings, range(1, 65) i(i)),
      |dims AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM pe GROUP BY 1),
      |qd AS (
      |  SELECT vec_id, v, mn, mx,
      |         CASE WHEN mx = mn THEN 0
      |              ELSE CAST(floor((v - mn) / ((mx - mn) / 255.0) + 0.5)
      |                        AS BIGINT) END AS q
      |  FROM pe JOIN dims USING (pos)),
      |e AS (
      |  SELECT vec_id,
      |         v - (mn + q * ((mx - mn) / 255.0)) AS err
      |  FROM qd)
      |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dims,
      |       floor(max(abs(err)) * 1e9 + 0.5) / 1e9 AS max_abs_err,
      |       floor(CAST(sum(CAST(floor(err * err * 1e12 + 0.5) / 1e12
      |                          AS DECIMAL(38,12))) AS DOUBLE)
      |             / count(*) * 1e9 + 0.5) / 1e9 AS mse
      |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  // x128: explicit UNION ALL, which matches Spark unpivot's KEEP-null
  // semantics (SQL UNPIVOT would default to excluding nulls).
  val x128: String =
    """WITH u AS (
      |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
      |         l_quantity AS value FROM lineitem
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
      |  FROM lineitem
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
      |  FROM lineitem
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem)
      |SELECT * FROM u
      |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin

  // x129: brute-force exact 3-shingle-set Jaccard — the oracle does NOT
  // need the prefix filter (it exists only to avoid all-pairs cost);
  // integer cross-multiplied threshold, one division + floor-round for the
  // value. Short-doc rule mirrored: < 3 tokens → one whole-text shingle.
  val x129: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
      |           FROM documents WHERE text IS NOT NULL),
      |tok AS (
      |  SELECT DISTINCT doc_id,
      |         unnest(CASE WHEN len(toks) < 3
      |                THEN [array_to_string(toks, ' ')]
      |                ELSE [array_to_string(toks[i:i+2], ' ')
      |                      for i in range(1, len(toks) - 1)] END) AS w
      |  FROM t),
      |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, CAST(count(*) AS BIGINT) AS i
      |  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT da, db, i AS n_common,
      |       na.n + nb.n - i AS n_union,
      |       floor(CAST(i AS DOUBLE) / (na.n + nb.n - i) * 1000000 + 0.5)
      |         / 1000000 AS jaccard
      |FROM inter
      |JOIN n na ON na.doc_id = da
      |JOIN n nb ON nb.doc_id = db
      |WHERE 5 * i >= 4 * (na.n + nb.n - i)
      |ORDER BY da, db""".stripMargin

  // x131: identical 5-gram seed join + gaps-and-islands run merge — every
  // quantity an integer, so the hash pins seeding, the (pa − pb) diagonal
  // bookkeeping, and the run-length merge at once. range(a, b) is [a, b),
  // so positions run 1..len−4 inclusive, matching Spark's sequence(1, n−4).
  val x131: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
      |           FROM documents WHERE text IS NOT NULL),
      |g AS (
      |  SELECT doc_id, i AS pos,
      |         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
      |           toks[i+3] || ' ' || toks[i+4] AS g
      |  FROM t, LATERAL unnest(range(1, len(toks) - 3)) AS r(i)
      |  WHERE len(toks) >= 5),
      |m AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db,
      |         a.pos - b.pos AS diag, a.pos AS pa
      |  FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id),
      |isl AS (
      |  SELECT da, db, diag,
      |         pa - row_number() OVER (PARTITION BY da, db, diag
      |                                 ORDER BY pa) AS grp
      |  FROM m),
      |runs AS (
      |  SELECT da, db, CAST(count(*) AS BIGINT) AS run
      |  FROM isl GROUP BY da, db, diag, grp)
      |SELECT da, db,
      |       CAST(max(run) + 4 AS BIGINT) AS span_tokens,
      |       CAST(sum(run) AS BIGINT) AS n_matched_grams
      |FROM runs
      |GROUP BY da, db
      |HAVING max(run) + 4 >= 8
      |ORDER BY da, db""".stripMargin

  // x132: identical add-one bigram LM — V from the model's own w1 ∪ w2,
  // per-bigram −log2 term floor-rounded once from exact integers, per-doc
  // DECIMAL fold, one division + round at the edge; buckets are a pure
  // function of the rounded h_bits.
  val x132: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
      |           FROM documents WHERE text IS NOT NULL),
      |bi AS (
      |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM t, LATERAL unnest(range(1, len(toks))) AS r(i)
      |  GROUP BY 1, 2, 3),
      |model AS (SELECT w1, w2, CAST(sum(n) AS BIGINT) AS c12
      |          FROM bi GROUP BY 1, 2),
      |starts AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1
      |           FROM model GROUP BY 1),
      |vocab AS (SELECT CAST(count(*) AS BIGINT) AS v FROM
      |          (SELECT w1 AS w FROM model UNION SELECT w2 FROM model)),
      |terms AS (
      |  SELECT w1, w2,
      |         floor(-log2((c12 + 1) / CAST(c1 + v AS DOUBLE))
      |               * 1000000 + 0.5) / 1000000 AS term
      |  FROM model JOIN starts USING (w1), vocab),
      |doc AS (
      |  SELECT bi.doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
      |         floor(CAST(sum(CAST(n * term AS DECIMAL(38,6))) AS DOUBLE)
      |               / sum(n) * 1000000 + 0.5) / 1000000 AS h_bits
      |  FROM bi JOIN terms USING (w1, w2)
      |  GROUP BY 1)
      |SELECT doc_id, n_bigrams, h_bits,
      |       CASE WHEN h_bits < 4.85 THEN 'head'
      |            WHEN h_bits < 4.95 THEN 'middle'
      |            ELSE 'tail' END AS bucket
      |FROM doc
      |ORDER BY doc_id""".stripMargin

  // x133: the oracle runs the window formulation of the same E-S priority
  // ranking — identical u = (h+1)/(2^48+1) double, identical ln()/w with
  // the floor-round, doc_id tie-break; the hash match pins the custom
  // operator's retained set against the declarative semantics.
  val x133: String =
    """WITH d AS (
      |  SELECT doc_id, source, n_chars,
      |         ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
      |           AS h
      |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
      |p AS (
      |  SELECT doc_id, source, n_chars,
      |         floor(ln((h + 1) / CAST(281474976710657 AS DOUBLE)) / n_chars
      |               * 1000000 + 0.5) / 1000000 AS priority
      |  FROM d),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY source
      |            ORDER BY priority DESC, doc_id ASC) AS rank
      |  FROM p)
      |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id, n_chars, priority
      |FROM r WHERE rank <= 5
      |ORDER BY source, rank""".stripMargin

  // x134: DuckDB's utf8proc-backed nfc_normalize/strip_accents against the
  // JDK Normalizer expressions — the hash match pins the two Unicode
  // implementations byte-for-byte on the exercised range. chr(769)/chr(776)
  // are U+0301/U+0308 (combining acute / diaeresis).
  val x134: String =
    """WITH n AS (
      |  SELECT doc_id, text,
      |         nfc_normalize(replace(replace(text, 'a', 'a' || chr(769)),
      |                               'o', 'o' || chr(776))) AS norm
      |  FROM documents WHERE text IS NOT NULL)
      |SELECT doc_id,
      |       CAST(length(text) AS BIGINT) AS n_raw,
      |       CAST(length(norm) AS BIGINT) AS n_nfc,
      |       md5(norm) AS nfc_md5,
      |       strip_accents(norm) = text AS roundtrip_ok
      |FROM n
      |ORDER BY doc_id""".stripMargin

  // x136: plain exact GROUP/HAVING — the CMS prefilter is invisible in the
  // result (no false negatives by construction, false positives removed by
  // the exact recount), so the oracle needs no sketch at all.
  val x136: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
      |           FROM documents WHERE text IS NOT NULL),
      |g AS (
      |  SELECT toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
      |  FROM t, LATERAL unnest(range(1, len(toks) - 1)) AS r(i)
      |  WHERE len(toks) >= 3)
      |SELECT shingle, CAST(count(*) AS BIGINT) AS n
      |FROM g
      |GROUP BY shingle
      |HAVING count(*) >= 6
      |ORDER BY n DESC, shingle ASC""".stripMargin

  // x137: exact per-source token ranking — valid as the space_saving
  // oracle because the fixture vocabulary stays far below the aggregate's
  // 64-counter capacity (no eviction → exact, merge-order-independent);
  // identical (n desc, token asc) ordering at rank and output levels.
  val x137: String =
    """WITH t AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS token
      |  FROM documents WHERE text IS NOT NULL),
      |c AS (SELECT source, token, CAST(count(*) AS BIGINT) AS n
      |      FROM t GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY source
      |              ORDER BY n DESC, token ASC) AS rank FROM c)
      |SELECT source, CAST(rank AS BIGINT) AS rank, token, n
      |FROM r WHERE rank <= 5
      |ORDER BY source, rank""".stripMargin

  val x120: String =
    """WITH o AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |         CAST(floor(coalesce(value, 0) * 1000000 + 0.5) AS BIGINT) AS vmicro,
      |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |  FROM events),
      |s AS (
      |  SELECT user_id, us, vmicro,
      |         sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
      |                  THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY user_id ORDER BY us, event_id
      |                 ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM o)
      |SELECT user_id,
      |       CAST(sess AS BIGINT) AS session_id,
      |       min(us) AS start_us,
      |       max(us) AS end_us,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(vmicro) AS BIGINT) / 1000000.0 AS sum_value
      |FROM s
      |GROUP BY user_id, sess
      |ORDER BY user_id, session_id""".stripMargin

  // x118: the identical positional 3-token-window boundary rule both sides
  // (no running state, so both engines evaluate it per position); DuckDB
  // list comprehension builds the span structs, inclusive-slice semantics
  // matched to Spark's (start, length)
  val x118: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents WHERE text IS NOT NULL),
      |s AS (
      |  SELECT doc_id, toks, n_tok,
      |         list_filter(range(1, n_tok + 1), i -> i = 1 OR (i > 3 AND
      |           ('0x' || substring(md5(concat_ws(' ',
      |              toks[CAST(i AS INT) - 2], toks[CAST(i AS INT) - 1],
      |              toks[CAST(i AS INT)])), 1, 2))::BIGINT % 8 = 0)) AS starts
      |  FROM t),
      |c AS (
      |  SELECT doc_id, toks, n_tok,
      |         unnest([{'chunk_idx': j, 'start_pos': starts[j],
      |                  'n_tok_chunk': coalesce(starts[j + 1], n_tok + 1) - starts[j]}
      |                 for j in range(1, len(starts) + 1)]) AS ch
      |  FROM s)
      |SELECT doc_id,
      |       CAST(ch.chunk_idx AS BIGINT) AS chunk_idx,
      |       CAST(ch.start_pos AS BIGINT) AS start_pos,
      |       CAST(ch.n_tok_chunk AS BIGINT) AS n_tok_chunk,
      |       md5(array_to_string(
      |         toks[CAST(ch.start_pos AS INT) :
      |              CAST(ch.start_pos + ch.n_tok_chunk - 1 AS INT)], ' ')) AS chunk_md5
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  // x91: DuckDB's native dual ASOF JOIN vs Spark's two-window union walk —
  // the hash match pins the formulations against each other in BOTH
  // directions. The ne dedup (max event_id per (user, instant)) gives the
  // same-instant tie-break Spark's sort encodes.
  val x91: String =
    """WITH e AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS t,
      |         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
      |  FROM events),
      |err AS (SELECT event_id, user_id, t FROM e WHERE is_err = 1),
      |ne AS (SELECT user_id, t, max(event_id) AS ne_event
      |       FROM e WHERE is_err = 0 GROUP BY 1, 2),
      |b AS (
      |  SELECT err.event_id, err.user_id, err.t,
      |         ne.ne_event AS back_event, ne.t AS back_t
      |  FROM err ASOF LEFT JOIN ne
      |    ON err.user_id = ne.user_id AND err.t >= ne.t),
      |f AS (
      |  SELECT err.event_id, ne.ne_event AS fwd_event, ne.t AS fwd_t
      |  FROM err ASOF LEFT JOIN ne
      |    ON err.user_id = ne.user_id AND err.t <= ne.t)
      |SELECT b.event_id, b.user_id, b.t AS ts_us, b.back_event, f.fwd_event,
      |       CASE WHEN b.back_event IS NULL AND f.fwd_event IS NULL THEN 'none'
      |            WHEN b.back_event IS NULL THEN 'forward'
      |            WHEN f.fwd_event IS NULL THEN 'backward'
      |            WHEN b.t - b.back_t <= f.fwd_t - b.t THEN 'backward'
      |            ELSE 'forward' END AS direction,
      |       CASE WHEN b.back_event IS NULL AND f.fwd_event IS NULL THEN NULL
      |            WHEN b.back_event IS NULL THEN f.fwd_event
      |            WHEN f.fwd_event IS NULL THEN b.back_event
      |            WHEN b.t - b.back_t <= f.fwd_t - b.t THEN b.back_event
      |            ELSE f.fwd_event END AS nearest_event,
      |       CASE WHEN b.back_event IS NULL AND f.fwd_event IS NULL THEN NULL
      |            WHEN b.back_event IS NULL THEN f.fwd_t - b.t
      |            WHEN f.fwd_event IS NULL THEN b.t - b.back_t
      |            WHEN b.t - b.back_t <= f.fwd_t - b.t THEN b.t - b.back_t
      |            ELSE f.fwd_t - b.t END AS gap_us
      |FROM b JOIN f ON f.event_id = b.event_id
      |ORDER BY b.event_id""".stripMargin

  // x92: the oracle rebuilds x70's validity intervals and runs the REAL
  // [valid_from, valid_to) interval join — pinning Spark's single-pass
  // windowed lookup against the dedicated-operator formulation.
  val x92: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, value,
      |         CASE WHEN row_number() OVER w = 1
      |                OR value IS DISTINCT FROM lag(value) OVER w
      |              THEN 1 ELSE 0 END AS is_chg
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
      |dim AS (
      |  SELECT user_id, value, event_id AS valid_from,
      |         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS version,
      |         lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS valid_to
      |  FROM flagged WHERE is_chg = 1)
      |SELECT e.event_id, e.user_id, d.version, d.value AS dim_value,
      |       d.valid_from, e.event_id - d.valid_from AS staleness
      |FROM events e JOIN dim d
      |  ON e.user_id = d.user_id AND d.valid_from <= e.event_id
      | AND (d.valid_to IS NULL OR e.event_id < d.valid_to)
      |WHERE e.event_type = 'error'
      |ORDER BY e.event_id""".stripMargin

  // x93: identical pair-expansion formulation — distinct (user, day)
  // pairs fan out to their ≤7 target days, one grouped count(DISTINCT)
  // serves DAU (offset 0) and WAU. Days are exact epoch integer division
  // on both sides (µs in DuckDB == truncated ns in Spark).
  val x93: String =
    """WITH pairs AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |ex AS (
      |  SELECT p.user_id, p.day + g.g AS day, g.g
      |  FROM pairs p CROSS JOIN (SELECT unnest(range(0, 7)) AS g) g)
      |SELECT day,
      |       count(DISTINCT CASE WHEN g = 0 THEN user_id END) AS dau,
      |       count(DISTINCT user_id) AS wau7,
      |       floor(CAST(count(DISTINCT CASE WHEN g = 0 THEN user_id END) AS DOUBLE)
      |             / count(DISTINCT user_id) * 1000000 + 0.5) / 1000000 AS stickiness
      |FROM ex GROUP BY day
      |HAVING count(DISTINCT CASE WHEN g = 0 THEN user_id END) >= 1
      |ORDER BY day""".stripMargin

  // x96: gaps are exact µs integers; each value·gap product is an exact
  // double; products DECIMAL-sum (order-independent); one floor-round at
  // the end — the shared numeric-determinism contract.
  val x96: String =
    """WITH obs AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS t, value
      |  FROM events WHERE value IS NOT NULL),
      |g AS (
      |  SELECT user_id, t, value,
      |         lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS nt
      |  FROM obs)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_obs,
      |       max(t) - min(t) AS span_us,
      |       floor(CAST(sum(CAST(value * (nt - t) AS DECIMAL(28,6))) AS DOUBLE)
      |             / (max(t) - min(t)) * 1000000 + 0.5) / 1000000 AS twa
      |FROM g GROUP BY user_id
      |HAVING max(t) - min(t) > 0
      |ORDER BY user_id""".stripMargin

  // x97: quantile_cont == Spark's exact interpolating percentile(); both
  // engines interpolate (a+b)/2 from identical doubles, so raw medians
  // hash-match with no rounding step (the x25 contract).
  val x97: String =
    """WITH obs AS (
      |  SELECT event_type, value FROM events WHERE value IS NOT NULL),
      |med AS (
      |  SELECT event_type, quantile_cont(value, 0.5) AS med
      |  FROM obs GROUP BY 1),
      |dev AS (
      |  SELECT o.event_type, o.value, m.med, abs(o.value - m.med) AS absdev
      |  FROM obs o JOIN med m USING (event_type)),
      |mad AS (
      |  SELECT event_type, quantile_cont(absdev, 0.5) AS mad
      |  FROM dev GROUP BY 1)
      |SELECT d.event_type, min(d.med) AS med, min(m.mad) AS mad,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CASE WHEN d.absdev > 3.0 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_outliers
      |FROM dev d JOIN mad m USING (event_type)
      |GROUP BY d.event_type
      |ORDER BY d.event_type""".stripMargin

  // x82: percent_rank is (rank-1)/(n-1) in both engines — integer rank
  // arithmetic into one IEEE division, so no rounding step is needed and
  // ties need no tie-break (equal scores share a rank).
  val x82: String =
    """WITH t AS (
      |  SELECT doc_id, length(replace(text, ' ', '')) AS n_alpha FROM documents),
      |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |st AS (
      |  SELECT doc_id, count(*) AS n_tokens,
      |         sum(CASE WHEN token IN ('the', 'a', 'of', 'to', 'and') THEN 1 ELSE 0 END) AS n_stop
      |  FROM tok GROUP BY doc_id),
      |q AS (
      |  SELECT s.doc_id,
      |         floor((0.4 * least(CAST(s.n_tokens AS DOUBLE), 50.0) / 50.0
      |             + 0.3 * (1.0 - CAST(s.n_stop AS DOUBLE) / s.n_tokens)
      |             + 0.3 * least(CAST(t.n_alpha AS DOUBLE) / s.n_tokens, 10.0) / 10.0)
      |           * 100000000 + 0.5) / 100000000 AS quality_score
      |  FROM st s JOIN t ON s.doc_id = t.doc_id)
      |SELECT d.doc_id, d.lang, q.quality_score,
      |       percent_rank() OVER (PARTITION BY d.lang ORDER BY q.quality_score) AS pct_rank
      |FROM documents d JOIN q ON d.doc_id = q.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // x83: sorted-neighborhood pairs via row_number positions + a pos-range
  // self-join (DuckDB's formulation of Spark's lead()-window: positions
  // i and i+1..i+3 within a block are exactly the lead-1..3 pairs). The
  // shingle-intersection join only surfaces pairs with n_common >= 1, but
  // every dropped pair has jaccard 0 and fails the 0.4 gate anyway.
  val x83: String =
    s"""WITH $shingleCte,
      |shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
      |sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
      |ord AS (
      |  SELECT doc_id, substr(text, 1, 8) AS blk,
      |         row_number() OVER (PARTITION BY substr(text, 1, 8)
      |                            ORDER BY substr(text, 1, 40), doc_id) AS pos
      |  FROM documents),
      |pairs AS (
      |  SELECT least(a.doc_id, b.doc_id) AS d1, greatest(a.doc_id, b.doc_id) AS d2
      |  FROM ord a JOIN ord b
      |    ON a.blk = b.blk AND b.pos BETWEEN a.pos + 1 AND a.pos + 3),
      |inter AS (
      |  SELECT p.d1, p.d2, count(*) AS n_common
      |  FROM pairs p
      |  JOIN shd s1 ON s1.doc_id = p.d1
      |  JOIN shd s2 ON s2.doc_id = p.d2 AND s2.shingle = s1.shingle
      |  GROUP BY 1, 2)
      |SELECT i.d1, i.d2, CAST(i.n_common AS BIGINT) AS n_common,
      |       floor(CAST(i.n_common AS DOUBLE) / (z1.n + z2.n - i.n_common)
      |             * 1000000 + 0.5) / 1000000 AS jaccard
      |FROM inter i
      |JOIN sizes z1 ON z1.doc_id = i.d1
      |JOIN sizes z2 ON z2.doc_id = i.d2
      |WHERE CAST(i.n_common AS DOUBLE) / (z1.n + z2.n - i.n_common) >= 0.4
      |ORDER BY d1, d2""".stripMargin

  // x84: same LSH candidate CTEs as x20, gated on normalized Levenshtein
  // similarity instead of Jaccard; is_dup compares the ROUNDED similarity
  // so both engines gate the identical double.
  val x84: String =
    s"""WITH $shingleCte,
      |mh AS (
      |  SELECT doc_id, j, min(md5(concat(CAST(j AS VARCHAR), '|', shingle))) AS mh
      |  FROM sh, range(0, 16) s(j) GROUP BY doc_id, j),
      |band AS (
      |  SELECT doc_id, j // 4 AS band, md5(string_agg(mh, ',' ORDER BY j)) AS bh
      |  FROM mh GROUP BY doc_id, j // 4),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |  FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
      |lv AS (
      |  SELECT c.d1, c.d2, levenshtein(a.text, b.text) AS lev,
      |         greatest(length(a.text), length(b.text)) AS mx
      |  FROM cand c
      |  JOIN documents a ON a.doc_id = c.d1
      |  JOIN documents b ON b.doc_id = c.d2),
      |sim AS (
      |  SELECT d1, d2, CAST(lev AS BIGINT) AS lev,
      |         floor((1.0 - CAST(lev AS DOUBLE) / CAST(mx AS DOUBLE))
      |               * 1000000 + 0.5) / 1000000 AS edit_sim
      |  FROM lv)
      |SELECT d1, d2, lev, edit_sim, CAST(edit_sim >= 0.95 AS INT) AS is_dup
      |FROM sim ORDER BY d1, d2""".stripMargin

  // x85: chi-square per source over the x16 quality-score histogram; the
  // dense source×bin grid includes zero-observation cells, each term is
  // the identical (obs-exp)*(obs-exp)/exp IEEE sequence rounded once, and
  // the per-source sum is DECIMAL (order-independent).
  val x85: String =
    """WITH t AS (
      |  SELECT doc_id, length(replace(text, ' ', '')) AS n_alpha FROM documents),
      |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |st AS (
      |  SELECT doc_id, count(*) AS n_tokens,
      |         sum(CASE WHEN token IN ('the', 'a', 'of', 'to', 'and') THEN 1 ELSE 0 END) AS n_stop
      |  FROM tok GROUP BY doc_id),
      |q AS (
      |  SELECT s.doc_id,
      |         floor((0.4 * least(CAST(s.n_tokens AS DOUBLE), 50.0) / 50.0
      |             + 0.3 * (1.0 - CAST(s.n_stop AS DOUBLE) / s.n_tokens)
      |             + 0.3 * least(CAST(t.n_alpha AS DOUBLE) / s.n_tokens, 10.0) / 10.0)
      |           * 100000000 + 0.5) / 100000000 AS quality_score
      |  FROM st s JOIN t ON s.doc_id = t.doc_id),
      |cells AS (
      |  SELECT d.source, least(CAST(floor(q.quality_score * 10) AS INT), 9) AS bin,
      |         count(*) AS obs
      |  FROM documents d JOIN q ON d.doc_id = q.doc_id
      |  GROUP BY 1, 2),
      |src AS (SELECT source, sum(obs) AS src_n FROM cells GROUP BY 1),
      |bn AS (SELECT bin, sum(obs) AS bin_n FROM cells GROUP BY 1),
      |tot AS (SELECT sum(obs) AS n_total FROM cells),
      |ex AS (
      |  SELECT s.source, s.src_n, coalesce(c.obs, 0) AS obs,
      |         CAST(s.src_n AS DOUBLE) * CAST(b.bin_n AS DOUBLE)
      |           / CAST(t.n_total AS DOUBLE) AS exp
      |  FROM src s CROSS JOIN bn b CROSS JOIN tot t
      |  LEFT JOIN cells c ON c.source = s.source AND c.bin = b.bin),
      |term AS (
      |  SELECT source, src_n,
      |         floor((CAST(obs AS DOUBLE) - exp) * (CAST(obs AS DOUBLE) - exp) / exp
      |               * 1000000 + 0.5) / 1000000 AS term
      |  FROM ex)
      |SELECT source, CAST(src_n AS BIGINT) AS n_docs,
      |       CAST(sum(CAST(term AS DECIMAL(28,6))) AS DOUBLE) AS chi2
      |FROM term GROUP BY 1, 2 ORDER BY source""".stripMargin

  // x86: x28's 6-bit bucket + in-bucket pairs, restricted to pairs whose
  // labels differ, aggregated per (ordered) label pair. Mean cosine is
  // each pair's rounded cosine summed as DECIMAL.
  val x86: String =
    """WITH b AS (
      |  SELECT vec_id, label, embedding,
      |    CAST(embedding[1] > 0 AS INT) * 32 + CAST(embedding[2] > 0 AS INT) * 16
      |    + CAST(embedding[3] > 0 AS INT) * 8 + CAST(embedding[4] > 0 AS INT) * 4
      |    + CAST(embedding[5] > 0 AS INT) * 2 + CAST(embedding[6] > 0 AS INT) AS bucket
      |  FROM embeddings),
      |p AS (
      |  SELECT CAST(least(a.label, c.label) AS BIGINT) AS l1,
      |         CAST(greatest(a.label, c.label) AS BIGINT) AS l2,
      |    floor(sum(CAST(a.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) /
      |      (sqrt(sum(CAST(a.embedding[i.i] AS DOUBLE) * CAST(a.embedding[i.i] AS DOUBLE)))
      |       * sqrt(sum(CAST(c.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE))))
      |      * 1000000 + 0.5) / 1000000 AS cosine
      |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
      |                   AND a.label <> c.label,
      |       range(1, 65) i(i)
      |  GROUP BY a.vec_id, c.vec_id, 1, 2)
      |SELECT l1, l2, CAST(count(*) AS BIGINT) AS n_pairs,
      |       max(cosine) AS max_cosine,
      |       floor(CAST(sum(CAST(cosine AS DECIMAL(28,6))) AS DOUBLE) / count(*)
      |             * 1000000 + 0.5) / 1000000 AS mean_cosine
      |FROM p GROUP BY 1, 2 ORDER BY l1, l2""".stripMargin

  // x87: add-one-smoothed bigram LM likelihood; corpus counts are windows
  // over the one bigram extraction (mirroring Spark's single-exchange
  // window pair), V is a scalar subquery, per-doc mean is round-then-
  // DECIMAL-sum.
  val x87: String =
    """WITH bg AS (
      |  SELECT doc_id,
      |         unnest(range(1, greatest(len(string_split(text, ' ')), 1))) AS i,
      |         string_split(text, ' ') AS toks
      |  FROM documents),
      |bgp AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM bg),
      |v AS (SELECT count(DISTINCT w) AS vocab
      |      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)),
      |sc AS (
      |  SELECT doc_id,
      |         count(*) OVER (PARTITION BY w1) AS c1,
      |         count(*) OVER (PARTITION BY w1, w2) AS c2
      |  FROM bgp),
      |pr AS (
      |  SELECT doc_id,
      |         floor((CAST(c2 AS DOUBLE) + 1.0)
      |               / (CAST(c1 AS DOUBLE) + CAST(v.vocab AS DOUBLE))
      |               * 1000000 + 0.5) / 1000000 AS pr
      |  FROM sc, v)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |       floor(CAST(sum(CAST(pr AS DECIMAL(28,6))) AS DOUBLE) / count(*)
      |             * 1000000 + 0.5) / 1000000 AS lm_score
      |FROM pr GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // x88: threshold-OR posting lookup; string_agg ORDER BY term mirrors
  // Spark's sort_array over the per-doc matched set.
  val x88: String =
    """WITH hits AS (
      |  SELECT DISTINCT doc_id, w AS term FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE w IN ('data', 'table', 'spark'))
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched,
      |       string_agg(term, '|' ORDER BY term) AS matched_terms
      |FROM hits GROUP BY doc_id HAVING count(*) >= 2
      |ORDER BY n_matched DESC, doc_id""".stripMargin

  // x89: per-family dup flags (exact hash-min window, x13's minhash
  // canonical, x83's SNM dup side) folded into one agreement aggregate,
  // unpivoted to the 6-row upper-triangle matrix.
  val x89: String =
    s"""WITH $shingleCte,
      |mh AS (
      |  SELECT doc_id, j, min(md5(concat(CAST(j AS VARCHAR), '|', shingle))) AS mh
      |  FROM sh, range(0, 16) s(j) GROUP BY doc_id, j),
      |band AS (
      |  SELECT doc_id, j // 4 AS band, md5(string_agg(mh, ',' ORDER BY j)) AS bh
      |  FROM mh GROUP BY doc_id, j // 4),
      |reps AS (SELECT band, bh, min(doc_id) AS rep FROM band GROUP BY 1, 2),
      |mflag AS (
      |  SELECT b.doc_id FROM band b JOIN reps r ON b.band = r.band AND b.bh = r.bh
      |  GROUP BY b.doc_id HAVING min(r.rep) <> b.doc_id),
      |eflag AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep
      |    FROM documents) WHERE doc_id <> rep),
      |shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
      |sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
      |ord AS (
      |  SELECT doc_id, substr(text, 1, 8) AS blk,
      |         row_number() OVER (PARTITION BY substr(text, 1, 8)
      |                            ORDER BY substr(text, 1, 40), doc_id) AS pos
      |  FROM documents),
      |prs AS (
      |  SELECT least(a.doc_id, b.doc_id) AS d1, greatest(a.doc_id, b.doc_id) AS d2
      |  FROM ord a JOIN ord b
      |    ON a.blk = b.blk AND b.pos BETWEEN a.pos + 1 AND a.pos + 3),
      |inter AS (
      |  SELECT p.d1, p.d2, count(*) AS n_common
      |  FROM prs p
      |  JOIN shd s1 ON s1.doc_id = p.d1
      |  JOIN shd s2 ON s2.doc_id = p.d2 AND s2.shingle = s1.shingle
      |  GROUP BY 1, 2),
      |sflag AS (
      |  SELECT DISTINCT i.d2 AS doc_id
      |  FROM inter i
      |  JOIN sizes z1 ON z1.doc_id = i.d1
      |  JOIN sizes z2 ON z2.doc_id = i.d2
      |  WHERE CAST(i.n_common AS DOUBLE) / (z1.n + z2.n - i.n_common) >= 0.4),
      |f AS (
      |  SELECT d.doc_id,
      |         CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS fe,
      |         CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END AS fm,
      |         CASE WHEN s2.doc_id IS NOT NULL THEN 1 ELSE 0 END AS fs
      |  FROM documents d
      |  LEFT JOIN eflag e ON e.doc_id = d.doc_id
      |  LEFT JOIN mflag m ON m.doc_id = d.doc_id
      |  LEFT JOIN sflag s2 ON s2.doc_id = d.doc_id),
      |agg AS (
      |  SELECT sum(fe) AS ne, sum(fm) AS nm, sum(fs) AS ns,
      |         sum(fe * fm) AS nem, sum(fe * fs) AS nes, sum(fm * fs) AS nms
      |  FROM f)
      |SELECT 'exact' AS family_a, 'exact' AS family_b, CAST(ne AS BIGINT) AS n_both,
      |       CAST(0 AS BIGINT) AS n_only_a, CAST(0 AS BIGINT) AS n_only_b FROM agg
      |UNION ALL SELECT 'exact', 'minhash', CAST(nem AS BIGINT),
      |       CAST(ne - nem AS BIGINT), CAST(nm - nem AS BIGINT) FROM agg
      |UNION ALL SELECT 'exact', 'snm', CAST(nes AS BIGINT),
      |       CAST(ne - nes AS BIGINT), CAST(ns - nes AS BIGINT) FROM agg
      |UNION ALL SELECT 'minhash', 'minhash', CAST(nm AS BIGINT),
      |       CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM agg
      |UNION ALL SELECT 'minhash', 'snm', CAST(nms AS BIGINT),
      |       CAST(nm - nms AS BIGINT), CAST(ns - nms AS BIGINT) FROM agg
      |UNION ALL SELECT 'snm', 'snm', CAST(ns AS BIGINT),
      |       CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM agg
      |ORDER BY family_a, family_b""".stripMargin

  // x94: the md5 pins slice CONTENT: Spark's slice(arr, start+1, 32) ==
  // DuckDB's inclusive clamped list[start+1 : start+32], both 1-based.
  val x94: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |         len(string_split(text, ' ')) AS n_tok
      |  FROM documents WHERE text IS NOT NULL),
      |c AS (
      |  SELECT doc_id, toks,
      |         unnest(range(1 + (greatest(0, n_tok - 32) + 23) // 24)) AS chunk_id
      |  FROM t)
      |SELECT doc_id, chunk_id, chunk_id * 24 AS start_tok,
      |       len(toks[chunk_id * 24 + 1 : chunk_id * 24 + 32]) AS n_tok_chunk,
      |       md5(array_to_string(toks[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' '))
      |         AS chunk_md5
      |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  // x95: the identical cummax-window skyline formulation on both sides —
  // sorted (n_chars, richness DESC, doc_id), on-frontier iff richness
  // strictly exceeds the preceding running max.
  val x95: String =
    """WITH t AS (
      |  SELECT source, doc_id, n_chars,
      |         len(list_distinct(string_split(text, ' '))) AS richness
      |  FROM documents WHERE text IS NOT NULL),
      |k AS (
      |  SELECT source, doc_id, n_chars, richness,
      |         max(richness) OVER (PARTITION BY source
      |           ORDER BY n_chars ASC, richness DESC, doc_id ASC
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx
      |  FROM t)
      |SELECT source, doc_id, n_chars, richness
      |FROM k WHERE richness > coalesce(mx, -1)
      |ORDER BY source, n_chars, doc_id""".stripMargin

  // x98: hex→int via the x80 precedent; DuckDB's integer sum is HUGEINT,
  // hence the CAST. Explicit per-column coalesce — concat_ws null-skipping
  // would conflate ('a', NULL) with ('a').
  val x98: String =
    """SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(('0x' || substr(md5(
      |         CAST(doc_id AS VARCHAR) || '|' || coalesce(text, '') || '|' ||
      |         coalesce(lang, '') || '|' || coalesce(source, '') || '|' ||
      |         CAST(coalesce(n_chars, -1) AS VARCHAR)), 1, 8))::BIGINT) AS BIGINT)
      |         AS checksum
      |FROM documents GROUP BY source
      |ORDER BY source""".stripMargin

  // x99: sequence order is event_id (exact in both engines), never the
  // ns-truncating ts; probability is one long/long double division on
  // exact counts, floor-rounded identically.
  val x99: String =
    """WITH p AS (
      |  SELECT user_id, event_type AS from_type,
      |         lead(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
      |           AS to_type
      |  FROM events),
      |a AS (
      |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_trans
      |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n_trans,
      |       floor(n_trans / (sum(n_trans) OVER (PARTITION BY from_type))
      |         * 1e6 + 0.5) / 1e6 AS p
      |FROM a ORDER BY from_type, to_type""".stripMargin

  // x100: cosine of per-label SUM vectors == centroid cosine (cosine is
  // scale-invariant); elements round once to 6 dp, then every sum/product
  // is exact decimal — no order-dependent double accumulation. The final
  // sqrt/mul/div runs on decimal→double casts identical in both engines.
  val x100: String =
    """WITH s AS (
      |  SELECT label, CAST(i.i AS INT) AS pos,
      |         CAST(sum(CAST(floor(CAST(embedding[i.i] AS DOUBLE) * 1e6 + 0.5)
      |           / 1e6 AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS sv
      |  FROM embeddings, range(1, 65) i(i) GROUP BY 1, 2),
      |n AS (SELECT label, sum(sv * sv) AS n2 FROM s GROUP BY 1),
      |d AS (
      |  SELECT a.label AS label_a, b.label AS label_b, sum(a.sv * b.sv) AS dot
      |  FROM s a JOIN s b ON a.pos = b.pos AND a.label < b.label
      |  GROUP BY 1, 2)
      |SELECT label_a, label_b,
      |       floor(CAST(d.dot AS DOUBLE)
      |         / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
      |         * 1e6 + 0.5) / 1e6 AS cosine
      |FROM d JOIN n na ON na.label = d.label_a
      |       JOIN n nb ON nb.label = d.label_b
      |ORDER BY label_a, label_b""".stripMargin

  // x101: each −p·log2(p) term computed from exact longs then floor-rounded
  // (log ulp divergence absorbed at 6 dp, the x50/x87 precedent), summed in
  // DECIMAL so the reduction is order-independent.
  val x101: String =
    """WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS w
      |  FROM documents WHERE text IS NOT NULL),
      |c AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2),
      |t AS (SELECT source, w, c, sum(c) OVER (PARTITION BY source) AS total
      |      FROM c)
      |SELECT source, CAST(max(total) AS BIGINT) AS n_tokens,
      |       CAST(count(*) AS BIGINT) AS n_vocab,
      |       floor(CAST(sum(CAST(floor(-(c / total) * log2(c / total)
      |           * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6))) AS DOUBLE)
      |         * 1e6 + 0.5) / 1e6 AS entropy
      |FROM t GROUP BY source ORDER BY source""".stripMargin

  // x102: identical sessionization (x6's lag + cumulative-flag), identical
  // top-3 busy-window choice (total order: count DESC, bucket), exact
  // epoch-µs long arithmetic throughout — the overlap join itself is pure
  // integer comparison, so the hash match is exact end-to-end.
  val x102: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events),
      |l AS (
      |  SELECT user_id, event_id, tsu,
      |         lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS prev
      |  FROM e),
      |s AS (
      |  SELECT user_id, tsu,
      |         sum(CASE WHEN prev IS NULL OR tsu - prev > 1800000000 THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS sid
      |  FROM l),
      |sess AS (
      |  SELECT user_id, sid, min(tsu) AS s_start, max(tsu) AS s_end
      |  FROM s GROUP BY user_id, sid),
      |topw AS (
      |  SELECT tsu // 300000000 AS bucket, CAST(count(*) AS BIGINT) AS w_events
      |  FROM e GROUP BY 1 ORDER BY w_events DESC, bucket LIMIT 3),
      |w2 AS (
      |  SELECT bucket * 300000000 AS w_start,
      |         (bucket + 1) * 300000000 - 1 AS w_end, w_events
      |  FROM topw)
      |SELECT w_start, w_events,
      |       CAST(count(*) AS BIGINT) AS n_sessions,
      |       CAST(count(DISTINCT s.user_id) AS BIGINT) AS n_users
      |FROM w2 JOIN sess s ON s.s_start <= w2.w_end AND w2.w_start <= s.s_end
      |GROUP BY w_start, w_events
      |ORDER BY w_start""".stripMargin

  // x105: one shared cosine CTE feeds both the brute-force truth (no bucket
  // filter) and the ANN side (bucket-pruned) — the same arithmetic as the
  // x11/x21 oracles, so each side individually matches its parent query.
  val x105: String =
    """WITH b AS (
      |  SELECT vec_id, embedding,
      |    CAST(embedding[1] > 0 AS INT) * 8 + CAST(embedding[2] > 0 AS INT) * 4
      |    + CAST(embedding[3] > 0 AS INT) * 2 + CAST(embedding[4] > 0 AS INT) AS bucket
      |  FROM embeddings),
      |q AS (SELECT embedding AS q_emb, bucket AS q_bucket FROM b WHERE vec_id = 0),
      |cos AS (
      |  SELECT e.vec_id, e.bucket,
      |         round(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.q_emb[i.i] AS DOUBLE)) /
      |           (sqrt(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)))
      |            * sqrt(sum(CAST(q.q_emb[i.i] AS DOUBLE) * CAST(q.q_emb[i.i] AS DOUBLE)))), 6) AS cosine
      |  FROM b e, q, range(1, 65) i(i)
      |  GROUP BY e.vec_id, e.bucket),
      |truth AS (
      |  SELECT vec_id, cosine,
      |         row_number() OVER (ORDER BY cosine DESC, vec_id) AS rank
      |  FROM (SELECT vec_id, cosine FROM cos ORDER BY cosine DESC, vec_id LIMIT 5)),
      |ann AS (
      |  SELECT c.vec_id FROM cos c, q WHERE c.bucket = q.q_bucket
      |  ORDER BY c.cosine DESC, c.vec_id LIMIT 5)
      |SELECT t.rank, t.vec_id, t.cosine,
      |       CASE WHEN a.vec_id IS NULL THEN 0 ELSE 1 END AS in_ann
      |FROM truth t LEFT JOIN ann a ON t.vec_id = a.vec_id
      |ORDER BY t.rank""".stripMargin

  // x107: keep-first chunk removal — same chunk grammar as x53; the kept
  // set is row_number()=1 over (chunk, ORDER BY doc_id, c), and the
  // rebuilt text aggregates kept chunks in c order (string_agg skips the
  // NULLed dropped chunks; coalesce('') matches Spark's empty-join of an
  // all-dropped document)
  val x107: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |ch0 AS (
      |  SELECT doc_id, unnest(list_transform(
      |    range(0, CAST(ceil(len(toks) / 20.0) AS INT)),
      |    c -> {'c': c,
      |          'chunk': array_to_string(list_slice(toks, c * 20 + 1, c * 20 + 20), ' ')})) AS s
      |  FROM t),
      |ch AS (SELECT doc_id, s.c AS c, s.chunk AS chunk FROM ch0),
      |k AS (SELECT doc_id, c, chunk,
      |        row_number() OVER (PARTITION BY chunk ORDER BY doc_id, c) AS rn
      |      FROM ch)
      |SELECT doc_id,
      |       CAST(count(*) AS BIGINT) AS n_chunks,
      |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |       md5(coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY c), '')) AS clean_md5,
      |       CAST(length(coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY c), '')) AS BIGINT) AS n_chars_clean
      |FROM k
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // x115: x107's chunk grammar verbatim; doc-frequency threshold flags
  // boilerplate (≥3 distinct docs), ALL occurrences stripped, same
  // coalesce-to-'' reassembly contract as x107
  val x115: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |ch0 AS (
      |  SELECT doc_id, unnest(list_transform(
      |    range(0, CAST(ceil(len(toks) / 20.0) AS INT)),
      |    c -> {'c': c,
      |          'chunk': array_to_string(list_slice(toks, c * 20 + 1, c * 20 + 20), ' ')})) AS s
      |  FROM t),
      |ch AS (SELECT doc_id, s.c AS c, s.chunk AS chunk FROM ch0),
      |bp AS (SELECT chunk FROM ch GROUP BY chunk HAVING count(DISTINCT doc_id) >= 3),
      |fl AS (SELECT ch.doc_id, ch.c, ch.chunk, bp.chunk IS NOT NULL AS boiler
      |       FROM ch LEFT JOIN bp ON ch.chunk = bp.chunk)
      |SELECT doc_id,
      |       CAST(count(*) AS BIGINT) AS n_chunks,
      |       CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
      |       md5(coalesce(string_agg(CASE WHEN NOT boiler THEN chunk END, ' ' ORDER BY c), '')) AS clean_md5,
      |       CAST(length(coalesce(string_agg(CASE WHEN NOT boiler THEN chunk END, ' ' ORDER BY c), '')) AS BIGINT) AS n_chars_clean
      |FROM fl
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // x108: token-budget fill — running token sum per source in the
  // deterministic md5 order (x54's), fill-then-stop: a doc is in while the
  // PRE-sum is under budget, so the crossing doc is included
  val x108: String =
    """WITH d AS (
      |  SELECT source, doc_id,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
      |  FROM documents),
      |c AS (
      |  SELECT source, doc_id, n_toks,
      |         CAST(sum(n_toks) OVER (PARTITION BY source
      |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
      |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_toks
      |  FROM d)
      |SELECT source, doc_id, n_toks, cum_toks
      |FROM c
      |WHERE cum_toks - n_toks < 2000
      |ORDER BY source, cum_toks, doc_id""".stripMargin

  // x110: walk-forward splits — identical exact epoch-µs long arithmetic
  // from the same anchor; // floors = truncates (all epochs positive)
  val x110: String =
    """WITH e AS (
      |  SELECT epoch_us(ts) AS t, event_type, user_id, CAST(f AS BIGINT) AS fold
      |  FROM events, unnest([0, 1, 2]) AS u(f)),
      |s AS (
      |  SELECT fold, event_type, user_id, t,
      |         CASE WHEN t < 1704067200000000 + (9 + fold * 7) * 86400000000
      |                THEN 'train'
      |              WHEN t < 1704067200000000 + (10 + fold * 7) * 86400000000
      |                THEN 'embargo'
      |              WHEN t < 1704067200000000 + (17 + fold * 7) * 86400000000
      |                THEN 'test' END AS split
      |  FROM e)
      |SELECT fold, split, event_type,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |       min(t) // 1000 AS min_ts_ms,
      |       max(t) // 1000 AS max_ts_ms
      |FROM s WHERE split IS NOT NULL
      |GROUP BY fold, split, event_type
      |ORDER BY fold, split, event_type""".stripMargin

  // x111: RRF fusion — lexical side is per-term-rounded DECIMAL-summed
  // tf·(n_docs/df) over the corpus's own top-3 tokens; vector side is the
  // x11 cosine arithmetic but with floor-half-up rounding (cosines to the
  // query vector go NEGATIVE for ~half the corpus, so bare round() would
  // violate the stableRound pairing contract — x32's floor↔floor pattern,
  // matching the Spark side's stableRound6); both cut to top-20 before
  // ranking, fused by 1/(60+rank) with a missing side contributing 0
  val x111: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |q AS (
      |  SELECT w FROM (SELECT w, count(*) AS n FROM toks GROUP BY 1
      |                 ORDER BY n DESC, w LIMIT 3)),
      |nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM documents),
      |dfq AS (SELECT w, count(DISTINCT doc_id) AS df FROM toks
      |        WHERE w IN (SELECT w FROM q) GROUP BY 1),
      |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks
      |       WHERE w IN (SELECT w FROM q) GROUP BY 1, 2),
      |lex AS (
      |  SELECT t.doc_id,
      |         CAST(sum(CAST(floor(CAST(t.tf AS DOUBLE) * nd.n_docs / d.df
      |                 * 1000000 + 0.5) / 1000000 AS DECIMAL(28,6))) AS DOUBLE) AS lex_score
      |  FROM tf t, dfq d, nd WHERE t.w = d.w GROUP BY 1),
      |lexr AS (
      |  SELECT doc_id, CAST(row_number() OVER (ORDER BY lex_score DESC, doc_id) AS BIGINT) AS lex_rank
      |  FROM (SELECT doc_id, lex_score FROM lex ORDER BY lex_score DESC, doc_id LIMIT 20)),
      |cos AS (
      |  SELECT e.vec_id AS doc_id,
      |         floor(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q2.embedding[i.i] AS DOUBLE)) /
      |           (sqrt(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)))
      |            * sqrt(sum(CAST(q2.embedding[i.i] AS DOUBLE) * CAST(q2.embedding[i.i] AS DOUBLE))))
      |           * 1000000 + 0.5) / 1000000 AS cos_score
      |  FROM embeddings e,
      |       (SELECT embedding FROM embeddings WHERE vec_id = 0) q2,
      |       range(1, 65) i(i)
      |  GROUP BY e.vec_id),
      |vecr AS (
      |  SELECT doc_id, CAST(row_number() OVER (ORDER BY cos_score DESC, doc_id) AS BIGINT) AS vec_rank
      |  FROM (SELECT doc_id, cos_score FROM cos ORDER BY cos_score DESC, doc_id LIMIT 20))
      |SELECT coalesce(l.doc_id, v.doc_id) AS doc_id, l.lex_rank, v.vec_rank,
      |       floor((coalesce(CAST(1 AS DOUBLE) / (60 + l.lex_rank), CAST(0 AS DOUBLE))
      |            + coalesce(CAST(1 AS DOUBLE) / (60 + v.vec_rank), CAST(0 AS DOUBLE)))
      |             * 1000000 + 0.5) / 1000000 AS rrf
      |FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.doc_id
      |ORDER BY rrf DESC, doc_id""".stripMargin

  // x140: x111's own SQL embedded as the fused CTE (any retriever drift
  // breaks both queries together); per-rank discounts round6'd then
  // DECIMAL-summed, one division + round at each edge, everything double
  // spelled CAST(1 AS DOUBLE) so DuckDB never routes through DECIMAL
  // division.
  lazy val x140: String =
    s"""WITH fused AS (SELECT * FROM ($x111)),
      |dirs AS (
      |  SELECT 'lex' AS direction, lex_rank AS my_rank, vec_rank AS rel_rank
      |  FROM fused
      |  UNION ALL
      |  SELECT 'vec', vec_rank, lex_rank FROM fused),
      |rel AS (SELECT direction, CAST(count(*) AS BIGINT) AS n_rel
      |        FROM dirs WHERE rel_rank <= 10 GROUP BY 1),
      |hits AS (SELECT direction, my_rank FROM dirs
      |         WHERE rel_rank <= 10 AND my_rank <= 10),
      |dcg AS (
      |  SELECT direction, CAST(count(*) AS BIGINT) AS n_hits,
      |         CAST(sum(CAST(floor(CAST(1 AS DOUBLE) / log2(my_rank + 1)
      |               * 1000000 + 0.5) / 1000000 AS DECIMAL(28,6))) AS DOUBLE)
      |           AS dcg,
      |         min(my_rank) AS first_hit
      |  FROM hits GROUP BY 1),
      |idcg AS (
      |  SELECT r.direction,
      |         CAST(sum(CAST(floor(CAST(1 AS DOUBLE) / log2(i.i + 1)
      |               * 1000000 + 0.5) / 1000000 AS DECIMAL(28,6))) AS DOUBLE)
      |           AS idcg
      |  FROM rel r, LATERAL unnest(range(1, least(10, r.n_rel) + 1)) i(i)
      |  GROUP BY 1)
      |SELECT r.direction, r.n_rel,
      |       coalesce(d.n_hits, 0) AS n_hits,
      |       floor(coalesce(CAST(1 AS DOUBLE) / d.first_hit, CAST(0 AS DOUBLE))
      |             * 1000000 + 0.5) / 1000000 AS mrr,
      |       floor(coalesce(d.dcg / i.idcg, CAST(0 AS DOUBLE))
      |             * 1000000 + 0.5) / 1000000 AS ndcg
      |FROM rel r LEFT JOIN dcg d USING (direction) JOIN idcg i USING (direction)
      |ORDER BY direction""".stripMargin

  // x141: identical gaps-and-islands over exact epoch-day integers — same
  // deterministic order, same exclusive-preceding running-max frame, same
  // synthesized transit rule.
  val x141: String =
    """WITH iv AS (
      |  SELECT l_suppkey,
      |         epoch_us(l_shipdate) // 86400000000 AS start_d,
      |         epoch_us(l_shipdate) // 86400000000
      |           + (l_linenumber % 7 + 1) AS end_d,
      |         l_orderkey, l_linenumber
      |  FROM lineitem
      |  WHERE l_shipdate IS NOT NULL AND l_suppkey IS NOT NULL),
      |f AS (
      |  SELECT l_suppkey, start_d, end_d, l_orderkey, l_linenumber,
      |         CASE WHEN max(end_d) OVER w IS NULL
      |                OR start_d > max(end_d) OVER w
      |              THEN 1 ELSE 0 END AS new_island
      |  FROM iv
      |  WINDOW w AS (PARTITION BY l_suppkey
      |               ORDER BY start_d, end_d, l_orderkey, l_linenumber
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |isl AS (
      |  SELECT l_suppkey, start_d, end_d,
      |         sum(new_island) OVER (PARTITION BY l_suppkey
      |             ORDER BY start_d, end_d, l_orderkey, l_linenumber
      |             ROWS UNBOUNDED PRECEDING) AS island
      |  FROM f),
      |g AS (
      |  SELECT l_suppkey, island, CAST(count(*) AS BIGINT) AS n_iv,
      |         min(start_d) AS i_start, max(end_d) AS i_end
      |  FROM isl GROUP BY 1, 2)
      |SELECT l_suppkey, CAST(sum(n_iv) AS BIGINT) AS n_intervals,
      |       CAST(count(*) AS BIGINT) AS n_islands,
      |       CAST(sum(i_end - i_start) AS BIGINT) AS covered_days,
      |       CAST(max(i_end - i_start) AS BIGINT) AS max_island_days
      |FROM g
      |GROUP BY l_suppkey
      |ORDER BY l_suppkey""".stripMargin

  // x142: same filter + integer-micros aggregate over the ORIGINAL events
  // — the partitioned write and the runtime pruning are invisible in the
  // result (x40's shared-original pattern).
  val x142: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(floor(coalesce(value, 0) * 1000000 + 0.5)
      |                     AS BIGINT)) AS BIGINT) AS sum_vmicro
      |FROM events
      |WHERE length(event_type) >= 6
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // x143: identical closed-form EWMA — same exact-micros v, same
  // coef·v round6-then-DECIMAL-sum, same (epoch-µs, event_id) order;
  // power(0.75, k) is the lone transcendental, neutralized per-term.
  val x143: String =
    """WITH o AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS t,
      |         floor(value * 1000000 + 0.5) / 1000000 AS v
      |  FROM events WHERE value IS NOT NULL),
      |r AS (
      |  SELECT user_id, v,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY t, event_id) AS i,
      |         count(*) OVER (PARTITION BY user_id) AS n
      |  FROM o),
      |t AS (
      |  SELECT user_id, n,
      |         floor((CASE WHEN i = 1 THEN power(0.75, n - 1)
      |                     ELSE 0.25 * power(0.75, n - i) END) * v
      |               * 1000000 + 0.5) / 1000000 AS term
      |  FROM r)
      |SELECT user_id, CAST(max(n) AS BIGINT) AS n_obs,
      |       floor(CAST(sum(CAST(term AS DECIMAL(28,6))) AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS ewma
      |FROM t
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // x144: exact integer/HUGEINT moments (DuckDB sums of BIGINT are HUGEINT
  // — arbitrary-precision here), identical double division + round at the
  // edge, identical intercept operation order.
  val x144: String =
    """WITH o AS (
      |  SELECT event_type, epoch_us(ts) AS t,
      |         CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS y
      |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
      |c AS (
      |  SELECT event_type,
      |         (t - min(t) OVER (PARTITION BY event_type)) // 86400000000 AS x,
      |         y
      |  FROM o),
      |s AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |         sum(x) AS sx, sum(y) AS sy,
      |         sum(x * y) AS sxy, sum(x * x) AS sxx
      |  FROM c GROUP BY 1)
      |SELECT event_type, n,
      |       floor(CAST(n * sxy - sx * sy AS DOUBLE)
      |             / CAST(n * sxx - sx * sx AS DOUBLE)
      |             / 1000000 * 1000000 + 0.5) / 1000000 AS slope_day,
      |       floor((CAST(sy AS DOUBLE) / n
      |              - CAST(n * sxy - sx * sy AS DOUBLE)
      |                / CAST(n * sxx - sx * sx AS DOUBLE)
      |                * CAST(sx AS DOUBLE) / n) / 1000000
      |             * 1000000 + 0.5) / 1000000 AS intercept
      |FROM s
      |ORDER BY event_type""".stripMargin

  // x148: exact HUGEINT moments, identical num/√dx·√dy operation order,
  // one round at the edge — corr() itself is float-accumulated in both
  // engines and deliberately unused.
  val x148: String =
    """WITH b AS (
      |  SELECT CAST(floor(l_quantity * 1000000 + 0.5) AS BIGINT) AS q,
      |         CAST(floor(l_extendedprice * 1000000 + 0.5) AS BIGINT) AS p,
      |         CAST(floor(l_discount * 1000000 + 0.5) AS BIGINT) AS d
      |  FROM lineitem
      |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
      |    AND l_discount IS NOT NULL),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         sum(CAST(q AS HUGEINT)) AS sq, sum(CAST(p AS HUGEINT)) AS sp,
      |         sum(CAST(d AS HUGEINT)) AS sd,
      |         sum(CAST(q AS HUGEINT) * q) AS sqq,
      |         sum(CAST(p AS HUGEINT) * p) AS spp,
      |         sum(CAST(d AS HUGEINT) * d) AS sdd,
      |         sum(CAST(q AS HUGEINT) * p) AS sqp,
      |         sum(CAST(q AS HUGEINT) * d) AS sqd,
      |         sum(CAST(p AS HUGEINT) * d) AS spd
      |  FROM b),
      |pairs AS (
      |  SELECT 'quantity_extendedprice' AS pair, n,
      |         CAST(n * sqp - sq * sp AS DOUBLE) AS num,
      |         CAST(n * sqq - sq * sq AS DOUBLE) AS dx,
      |         CAST(n * spp - sp * sp AS DOUBLE) AS dy
      |  FROM m
      |  UNION ALL
      |  SELECT 'quantity_discount', n, CAST(n * sqd - sq * sd AS DOUBLE),
      |         CAST(n * sqq - sq * sq AS DOUBLE),
      |         CAST(n * sdd - sd * sd AS DOUBLE) FROM m
      |  UNION ALL
      |  SELECT 'extendedprice_discount', n, CAST(n * spd - sp * sd AS DOUBLE),
      |         CAST(n * spp - sp * sp AS DOUBLE),
      |         CAST(n * sdd - sd * sd AS DOUBLE) FROM m)
      |SELECT pair, n,
      |       floor(num / (sqrt(dx) * sqrt(dy)) * 1000000 + 0.5) / 1000000
      |         AS corr
      |FROM pairs
      |ORDER BY pair""".stripMargin

  // x109: both engines' raw schema views, column by column — DESCRIBE on
  // the same parquet the Spark side footer-reads; diverging views (the
  // round-7 TIMESTAMP(NANOS) class) break the hash on exactly this query
  val x109: String = {
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.map(t =>
      s"SELECT '$t' AS table_name, column_name, column_type AS dtype " +
        s"FROM (DESCRIBE SELECT * FROM $t) " +
        // cardinality canary row (r9 verdict ask #5): a fixture regen that
        // changes row counts (or silently drops a file) goes red HERE as
        // one named row instead of as N mysterious hash mismatches
        s"UNION ALL SELECT '$t', '#rows', CAST(count(*) AS VARCHAR) FROM $t")
      .mkString("SELECT * FROM (", " UNION ALL ",
        ") ORDER BY table_name, column_name")
  }

  // x113: id-encode under the top-25 vocabulary — positions via the list-
  // comprehension struct unnest (x107's pattern), ids via row_number over
  // the same (count desc, token) total order Spark uses, OOV -> 0
  val x113: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |p0 AS (
      |  SELECT doc_id, unnest([{'pos': i, 'w': toks[i]}
      |                         for i in range(1, len(toks) + 1)]) AS s
      |  FROM t),
      |p AS (SELECT doc_id, s.pos AS pos, s.w AS w FROM p0),
      |v AS (
      |  SELECT w, CAST(row_number() OVER (ORDER BY n DESC, w) AS BIGINT) AS id
      |  FROM (SELECT w, count(*) AS n FROM p GROUP BY 1
      |        ORDER BY n DESC, w LIMIT 25)),
      |j AS (SELECT doc_id, pos, coalesce(v.id, 0) AS id
      |      FROM p LEFT JOIN v USING (w))
      |SELECT doc_id,
      |       CAST(count(*) AS BIGINT) AS n_tokens,
      |       CAST(sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |       md5(string_agg(CAST(id AS VARCHAR), ' ' ORDER BY pos)) AS ids_md5
      |FROM j
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // x147: x113's encode CTEs + the decode join back through the SAME vocab
  // (id 0 → <unk>), compared against the original text per doc.
  val x147: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |p0 AS (
      |  SELECT doc_id, unnest([{'pos': i, 'w': toks[i]}
      |                         for i in range(1, len(toks) + 1)]) AS s
      |  FROM t),
      |p AS (SELECT doc_id, s.pos AS pos, s.w AS w FROM p0),
      |v AS (
      |  SELECT w, CAST(row_number() OVER (ORDER BY n DESC, w) AS BIGINT) AS id
      |  FROM (SELECT w, count(*) AS n FROM p GROUP BY 1
      |        ORDER BY n DESC, w LIMIT 25)),
      |j AS (SELECT doc_id, pos, coalesce(v.id, 0) AS id
      |      FROM p LEFT JOIN v USING (w)),
      |d AS (SELECT j.doc_id, j.pos, j.id, coalesce(v2.w, '<unk>') AS dec
      |      FROM j LEFT JOIN v v2 ON v2.id = j.id)
      |SELECT d.doc_id,
      |       CAST(count(*) AS BIGINT) AS n_tokens,
      |       CAST(sum(CASE WHEN d.id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |       string_agg(d.dec, ' ' ORDER BY d.pos) = min(doc.text)
      |         AS roundtrip_ok
      |FROM d JOIN documents doc USING (doc_id)
      |GROUP BY d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // x150: x56's cosine arithmetic, per-(anchor, kind) top-1 on the
  // ROUNDED cosine with vec_id tie-break.
  val x150: String =
    """WITH q AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qemb
      |           FROM embeddings WHERE vec_id < 10),
      |cos AS (
      |  SELECT q.qid, q.qlabel, e.vec_id, e.label,
      |         floor(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.qemb[i.i] AS DOUBLE)) /
      |           (sqrt(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)))
      |            * sqrt(sum(CAST(q.qemb[i.i] AS DOUBLE) * CAST(q.qemb[i.i] AS DOUBLE))))
      |           * 1000000 + 0.5) / 1000000 AS cosine
      |  FROM embeddings e, q, range(1, 65) i(i)
      |  WHERE e.vec_id <> q.qid
      |  GROUP BY q.qid, q.qlabel, e.vec_id, e.label),
      |k AS (
      |  SELECT qid,
      |         CASE WHEN label = qlabel THEN 'positive' ELSE 'negative' END
      |           AS kind,
      |         vec_id, cosine
      |  FROM cos)
      |SELECT qid, kind, CAST(count(*) OVER (PARTITION BY qid, kind) AS BIGINT)
      |         AS n_cands,
      |       vec_id AS best_id, cosine AS best_cos
      |FROM k
      |QUALIFY row_number() OVER (PARTITION BY qid, kind
      |                           ORDER BY cosine DESC, vec_id) = 1
      |ORDER BY qid, kind""".stripMargin

  // x152: DuckDB's char-positional substring — identical 1-based windows,
  // exact counts, (n desc, gram asc) ranking both engines.
  val x152: String =
    """WITH g AS (
      |  SELECT lang, substring(text, i, 3) AS gram
      |  FROM documents, LATERAL unnest(range(1, length(text) - 1)) AS r(i)
      |  WHERE text IS NOT NULL AND length(text) >= 3),
      |c AS (SELECT lang, gram, CAST(count(*) AS BIGINT) AS n
      |      FROM g GROUP BY 1, 2)
      |SELECT lang,
      |       CAST(row_number() OVER (PARTITION BY lang
      |              ORDER BY n DESC, gram) AS BIGINT) AS rank,
      |       gram, n
      |FROM c
      |QUALIFY row_number() OVER (PARTITION BY lang ORDER BY n DESC, gram) <= 5
      |ORDER BY lang, rank""".stripMargin

  // x153: the DEDUP dialect statement's rewrite target — the window idiom
  // itself — in DuckDB; NULL texts partition together in both engines,
  // keep-first = smallest doc_id.
  val x153: String =
    """SELECT doc_id, source, CAST(length(text) AS BIGINT) AS len FROM (
      |  SELECT doc_id, source, text,
      |         row_number() OVER (PARTITION BY md5(text)
      |                            ORDER BY doc_id) AS rn
      |  FROM documents) t
      |WHERE rn = 1
      |ORDER BY doc_id""".stripMargin

  // x154: the flush of the watermark replay equals the declarative
  // tumbling-window count — DuckDB `//` is floor division, epoch_us is
  // non-negative on every fixture vintage, so both engines land on the
  // identical epoch-minute-aligned window starts.
  val x154: String =
    """SELECT epoch_us(ts) // 60000000 * 60000 AS win_start_ms,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM events WHERE ts IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // x155: x16's score CTE verbatim + quantile_cont thresholds (x25's
  // parity) + min_by under the salted-hash order; boundary ties fall low
  // via strict `>` in both engines.
  val x155: String =
    """WITH t AS (
      |  SELECT doc_id, length(replace(text, ' ', '')) AS n_alpha FROM documents),
      |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |st AS (
      |  SELECT doc_id, count(*) AS n_tokens,
      |         sum(CASE WHEN token IN ('the', 'a', 'of', 'to', 'and') THEN 1 ELSE 0 END) AS n_stop
      |  FROM tok GROUP BY doc_id),
      |sc AS (
      |  SELECT s.doc_id, s.n_tokens,
      |         floor((0.4 * least(CAST(s.n_tokens AS DOUBLE), 50.0) / 50.0
      |             + 0.3 * (1.0 - CAST(s.n_stop AS DOUBLE) / s.n_tokens)
      |             + 0.3 * least(CAST(t.n_alpha AS DOUBLE) / s.n_tokens, 10.0) / 10.0)
      |           * 100000000 + 0.5) / 100000000 AS q
      |  FROM st s JOIN t ON s.doc_id = t.doc_id),
      |b AS (SELECT quantile_cont(q, 0.25) AS q25, quantile_cont(q, 0.5) AS q50,
      |             quantile_cont(q, 0.75) AS q75 FROM sc)
      |SELECT CAST(1 + (q > q25)::INT + (q > q50)::INT + (q > q75)::INT AS BIGINT) AS phase,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       min(q) AS min_score, max(q) AS max_score,
      |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
      |       min_by(doc_id, md5('cur:' || CAST(doc_id AS VARCHAR))) AS first_doc
      |FROM sc, b GROUP BY 1 ORDER BY 1""".stripMargin

  // x156: the salted per-epoch hash permutation — strpos-in-hex digit
  // value (x19's idiom), shard = value mod 8; min(h) pins membership.
  val x156: String =
    """SELECT e.epoch,
      |       CAST((strpos('0123456789abcdef', substr(h.h, 1, 1)) - 1) % 8 AS BIGINT) AS shard,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(h.nc) AS BIGINT) AS sum_chars,
      |       min(h.h) AS checksum
      |FROM (SELECT CAST(unnest(range(1, 4)) AS BIGINT) AS epoch) e
      |CROSS JOIN LATERAL (
      |  SELECT md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS h,
      |         coalesce(n_chars, 0) AS nc
      |  FROM documents) h
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // x157: x16's score CTE + the 24-bit hex coin; zero-padded lowercase
  // printf('%06x') in both engines makes the lexicographic compare a
  // numeric compare; q8 integer sums are exact (HUGEINT / decimal).
  val x157: String =
    """WITH t AS (
      |  SELECT doc_id, length(replace(text, ' ', '')) AS n_alpha FROM documents),
      |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |st AS (
      |  SELECT doc_id, count(*) AS n_tokens,
      |         sum(CASE WHEN token IN ('the', 'a', 'of', 'to', 'and') THEN 1 ELSE 0 END) AS n_stop
      |  FROM tok GROUP BY doc_id),
      |sc AS (
      |  SELECT s.doc_id,
      |         floor((0.4 * least(CAST(s.n_tokens AS DOUBLE), 50.0) / 50.0
      |             + 0.3 * (1.0 - CAST(s.n_stop AS DOUBLE) / s.n_tokens)
      |             + 0.3 * least(CAST(t.n_alpha AS DOUBLE) / s.n_tokens, 10.0) / 10.0)
      |           * 100000000 + 0.5) / 100000000 AS q
      |  FROM st s JOIN t ON s.doc_id = t.doc_id),
      |coin AS (
      |  SELECT d.source, sc.q,
      |         CASE WHEN substr(md5('rs:' || CAST(d.doc_id AS VARCHAR)), 1, 6)
      |                   < printf('%06x', CAST(least(floor(sc.q * 16777216.0), 16777215.0) AS INTEGER))
      |              THEN 1 ELSE 0 END AS accept,
      |         CAST(floor(sc.q * 100000000 + 0.5) AS BIGINT) AS q8
      |  FROM documents d JOIN sc ON d.doc_id = sc.doc_id)
      |SELECT source,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(accept) AS BIGINT) AS n_accepted,
      |       floor(CAST(sum(accept) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS accept_rate,
      |       CASE WHEN sum(accept) > 0 THEN
      |         floor(CAST(sum(q8 * accept) AS DOUBLE) / 100000000.0 / sum(accept)
      |               * 1000000 + 0.5) / 1000000 END AS avg_q_accepted
      |FROM coin GROUP BY source ORDER BY source""".stripMargin

  // x158: seven FK stanzas, each a LEFT join of the child FK against the
  // parent's distinct key; null FKs are legal (not orphans); coverage
  // floor-rounded over non-null FKs.
  val x158: String = {
    def stanza(name: String, child: String, fk: String,
        parent: String, pk: String): String =
      s"""SELECT '$name' AS rel,
         |       CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(sum(CASE WHEN fk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_fk,
         |       CAST(sum(CASE WHEN fk IS NOT NULL AND pk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
         |       CASE WHEN count(*) - sum(CASE WHEN fk IS NULL THEN 1 ELSE 0 END) > 0 THEN
         |         floor((1.0 - CAST(sum(CASE WHEN fk IS NOT NULL AND pk IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |                / (count(*) - sum(CASE WHEN fk IS NULL THEN 1 ELSE 0 END))) * 1000000 + 0.5) / 1000000
         |       END AS coverage
         |FROM (SELECT $fk AS fk FROM $child) c
         |LEFT JOIN (SELECT DISTINCT $pk AS pk FROM $parent) p ON c.fk = p.pk""".stripMargin
    Seq(
      stanza("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      stanza("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      stanza("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
      stanza("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      stanza("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
      stanza("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
      stanza("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
      .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY rel")
  }

  // x159: the single-pass integer sums + three strategy rows; len() of the
  // x14-proven whitespace split, identical bucket CASE.
  val x159: String =
    """WITH n AS (
      |  SELECT len(string_split(text, ' ')) AS n FROM documents WHERE text IS NOT NULL),
      |d AS (
      |  SELECT n, least(n, 256) AS used,
      |         CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32 WHEN n <= 64 THEN 64
      |              WHEN n <= 128 THEN 128 ELSE 256 END AS bucket
      |  FROM n),
      |m AS (SELECT count(*) AS n_docs, sum(used) AS sum_used, sum(bucket) AS sum_bucket FROM d)
      |SELECT s.strategy,
      |       CAST(m.n_docs AS BIGINT) AS n_docs,
      |       CAST(s.slots AS BIGINT) AS slots,
      |       CAST(m.sum_used AS BIGINT) AS used,
      |       floor((1.0 - CAST(m.sum_used AS DOUBLE) / s.slots) * 1000000 + 0.5) / 1000000 AS waste_pct
      |FROM m, LATERAL (
      |  SELECT 'bucketed' AS strategy, m.sum_bucket AS slots
      |  UNION ALL
      |  SELECT 'packed_lb', CAST(ceil(CAST(m.sum_used AS DOUBLE) / 256) AS BIGINT) * 256
      |  UNION ALL
      |  SELECT 'pad_max', m.n_docs * 256) s
      |ORDER BY s.strategy""".stripMargin

  // x160: the declarative batch interval join the replay must equal —
  // open lower bound (strictly after the view), closed upper (≤ 2 h);
  // gaps are exact µs integers.
  val x160: String =
    """WITH v AS (
      |  SELECT user_id, epoch_us(ts) AS t FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type = 'view'),
      |c AS (
      |  SELECT user_id, epoch_us(ts) AS t FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type = 'click')
      |SELECT v.user_id,
      |       CAST(count(*) AS BIGINT) AS n_pairs,
      |       CAST(min(c.t - v.t) AS BIGINT) AS min_gap_us,
      |       CAST(max(c.t - v.t) AS BIGINT) AS max_gap_us,
      |       CAST(sum(c.t - v.t) AS BIGINT) AS sum_gap_us
      |FROM v JOIN c ON v.user_id = c.user_id
      |              AND c.t > v.t AND c.t <= v.t + 7200000000
      |GROUP BY v.user_id
      |ORDER BY v.user_id""".stripMargin

  // x161: the identical throttle recursion run sequentially — anchor
  // advances only on keeps, strict > on the period boundary, (t, event_id)
  // total order; every keep/suppress decision of the distributed fold is
  // pinned by the CTE walk (x116/x145's proof shape on exact µs integers).
  val x161: String =
    """WITH RECURSIVE ev AS (
      |  SELECT user_id, epoch_us(ts) AS t,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY epoch_us(ts), event_id) AS rn
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      |r(user_id, rn, t, anchor, kept) AS (
      |  SELECT user_id, rn, t, t, 1 FROM ev WHERE rn = 1
      |  UNION ALL
      |  SELECT e.user_id, e.rn, e.t,
      |         CASE WHEN e.t > r.anchor + 3600000000 THEN e.t ELSE r.anchor END,
      |         CASE WHEN e.t > r.anchor + 3600000000 THEN 1 ELSE 0 END
      |  FROM r JOIN ev e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
      |SELECT user_id,
      |       CAST(count(*) AS BIGINT) AS n_kept,
      |       min(t) AS first_kept_us,
      |       max(t) AS last_kept_us,
      |       CAST(sum(t) AS BIGINT) AS sum_kept_us
      |FROM r WHERE kept = 1
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // x162: the one-shot recompute the incremental merge must equal — exact
  // integer day buckets, DECIMAL(28,6) sums (x33's discipline), avg divided
  // once at the edge from sum/count with the shared terminal round6.
  val x162: String =
    """SELECT event_type,
      |       epoch_ns(ts) // 86400000000000 AS day,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       min(event_id) AS min_event_id,
      |       max(event_id) AS max_event_id,
      |       CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value,
      |       CASE WHEN count(value) > 0 THEN
      |         floor(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
      |               / count(value) * 1000000 + 0.5) / 1000000
      |       END AS avg_value
      |FROM events
      |WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |GROUP BY event_type, day
      |ORDER BY event_type, day""".stripMargin

  // x164: both sides of the quarantine boundary rebuilt from the ORIGINAL
  // parquet by the same doc_id%10 rule — parsed-side per-lang roundtrip
  // aggregates (x40's witness) + the __quarantine__ bucket counting the
  // mangled lines, constants where the corrupt rows carry no fields.
  val x164: String =
    """SELECT lang AS bucket,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       coalesce(CAST(sum(n_chars) AS BIGINT), 0) AS sum_chars,
      |       coalesce(CAST(sum(length(text)) AS BIGINT), 0) AS sum_text_len,
      |       min(doc_id) AS min_id,
      |       max(doc_id) AS max_id
      |FROM documents WHERE doc_id % 10 <> 0
      |GROUP BY lang
      |UNION ALL
      |SELECT '__quarantine__',
      |       CAST(count(*) AS BIGINT), 0, 0, -1, -1
      |FROM documents WHERE doc_id % 10 = 0
      |ORDER BY bucket""".stripMargin

  // x165: each event's TWO hopping-window starts rebuilt by integer µs
  // arithmetic (floor to the 5-min hop grid, minus k hops for k in {0,1});
  // both memberships always hold for size = 2×hop, so no filter is needed.
  val x165: String =
    """WITH e AS (
      |  SELECT epoch_us(ts) AS t, value FROM events WHERE ts IS NOT NULL),
      |w AS (
      |  SELECT (t // 300000000 - k) * 300000000 AS win_start_us, value
      |  FROM e, (SELECT unnest([0, 1]) AS k) ks)
      |SELECT win_start_us,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
      |FROM w GROUP BY win_start_us
      |ORDER BY win_start_us""".stripMargin

  // x166: the NATIVE session rule — new session when the gap is strictly
  // greater than the 30-min gap duration (an event at exactly
  // last + gap still merges: session end is inclusive), which is x6's
  // inclusive rule — the equivalence NewOpsSpec pins at the boundary.
  val x166: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS t FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      |f AS (
      |  SELECT user_id, t,
      |         CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
      |                   > 1800000000 THEN 1 ELSE 0 END AS new_s
      |  FROM e),
      |s AS (
      |  SELECT user_id,
      |         sum(new_s) OVER (PARTITION BY user_id ORDER BY t
      |                          ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM f),
      |g AS (SELECT user_id, sid, count(*) AS n FROM s GROUP BY user_id, sid)
      |SELECT user_id,
      |       CAST(count(*) AS BIGINT) AS n_sessions,
      |       CAST(max(n) AS BIGINT) AS max_session_events,
      |       CAST(sum(n) AS BIGINT) AS n_events
      |FROM g GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // x167: the watermark drop rule rebuilt declaratively — x160's
  // time-third split with event_id%50 stragglers shifted one batch late,
  // per-batch maxima, the running wm over batch order (exclusive
  // preceding), and the strict t < wm late test.
  val x167: String =
    """WITH e0 AS (
      |  SELECT event_id, epoch_us(ts) AS t FROM events WHERE ts IS NOT NULL),
      |s AS (SELECT min(t) AS lo, max(t) - min(t) + 1 AS span FROM e0),
      |e AS (
      |  SELECT event_id, t,
      |         least(CASE WHEN t < lo + span // 3 THEN 0
      |                    WHEN t < lo + (2 * span) // 3 THEN 1
      |                    ELSE 2 END
      |               + CASE WHEN event_id % 50 = 0 THEN 1 ELSE 0 END,
      |               2) AS b
      |  FROM e0, s),
      |m AS (SELECT b, max(t) AS bmax FROM e GROUP BY b),
      |w AS (
      |  SELECT b, max(bmax - 1800000000) OVER (ORDER BY b
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm
      |  FROM m)
      |SELECT e.b,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(CASE WHEN w.wm IS NOT NULL AND e.t < w.wm
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
      |       CAST(sum(CASE WHEN w.wm IS NULL OR e.t >= w.wm
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_ontime,
      |       min(e.t) AS min_t_us,
      |       max(e.t) AS max_t_us
      |FROM e JOIN w ON e.b = w.b
      |GROUP BY e.b
      |ORDER BY e.b""".stripMargin

  // x170: the identical 3 damped TextRank iterations as unrolled CTEs —
  // same round6 per contribution, same DECIMAL neighborhood sum, same
  // damping arithmetic; UNION (not UNION ALL) dedups the symmetric edges.
  val x170: String = {
    def step(prev: String, next: String): String =
      s"""c_$next AS (
         |  SELECT ed.u AS tok,
         |         CAST(sum(CAST(floor(s.score / dg.deg * 1000000 + 0.5)
         |                        / 1000000 AS DECIMAL(38,6))) AS DOUBLE) AS cs
         |  FROM ed JOIN s_$prev s ON ed.v = s.tok JOIN dg ON dg.u = ed.v
         |  GROUP BY ed.u),
         |s_$next AS (
         |  SELECT tok, floor((CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) * cs)
         |                    * 1000000 + 0.5) / 1000000 AS score
         |  FROM c_$next)"""
    s"""WITH t AS (
       |  SELECT string_split(text, ' ') AS toks FROM documents
       |  WHERE text IS NOT NULL),
       |p0 AS (
       |  SELECT unnest(list_transform(range(1, len(toks)),
       |    i -> {'u': toks[i], 'v': toks[i + 1]})) AS e
       |  FROM t),
       |p AS (SELECT e.u AS u, e.v AS v FROM p0 WHERE e.u <> e.v),
       |ed AS (SELECT u, v FROM p UNION SELECT v AS u, u AS v FROM p),
       |dg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM ed GROUP BY u),
       |s_0 AS (SELECT u AS tok, CAST(1.0 AS DOUBLE) AS score FROM dg),
       |${step("0", "1")},
       |${step("1", "2")},
       |${step("2", "3")}
       |SELECT tok, score FROM s_3
       |ORDER BY score DESC, tok
       |LIMIT 20""".stripMargin
  }

  // x171: plain per-user GROUP BY over the ORIGINAL parquet — the hash
  // match proves the bucketed write → catalog read → shuffle-free
  // aggregate cycle lossless AND correct (x76's proof, aggregation side).
  val x171: String =
    """SELECT user_id,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value,
      |       min(event_id) AS min_event_id,
      |       max(event_id) AS max_event_id
      |FROM events
      |WHERE user_id IS NOT NULL
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // x172: both vintages' contributions rebuilt with CASE — n_chars only
  // from the even (pre-source) vintage, source presence only from the odd
  // one; a positional union would corrupt exactly these separations.
  val x172: String =
    """SELECT lang,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       coalesce(CAST(sum(CASE WHEN doc_id % 2 = 0 THEN n_chars END)
      |                     AS BIGINT), 0) AS sum_chars_a,
      |       CAST(sum(CASE WHEN doc_id % 2 <> 0 AND source IS NOT NULL
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_with_source,
      |       min(doc_id) AS min_id,
      |       max(doc_id) AS max_id
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  // x174: per audited key one plain count GROUP BY, then the key-sized
  // skew statistics — exact interpolated median (quantile_cont == Spark
  // percentile, the x25 contract), single round6'd divisions.
  val x174: String = {
    def one(name: String, table: String, key: String): String =
      s"""SELECT '$name' AS keycol,
         |       CAST(count(*) AS BIGINT) AS n_keys,
         |       CAST(sum(n) AS BIGINT) AS n_rows,
         |       CAST(max(n) AS BIGINT) AS max_key_rows,
         |       floor(CAST(max(n) AS DOUBLE) / quantile_cont(n, 0.5)
         |             * 1000000 + 0.5) / 1000000 AS skew_ratio,
         |       floor(CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
         |             * 1000000 + 0.5) / 1000000 AS max_share
         |FROM (SELECT $key, count(*) AS n FROM $table
         |      WHERE $key IS NOT NULL GROUP BY $key)"""
    Seq(
      one("documents.lang", "documents", "lang"),
      one("documents.source", "documents", "source"),
      one("events.event_type", "events", "event_type"),
      one("events.user_id", "events", "user_id"),
      one("lineitem.l_orderkey", "lineitem", "l_orderkey"),
      one("orders.o_custkey", "orders", "o_custkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY keycol").stripMargin
  }

  // x175: identical unigram/adjacent-pair counts, the same support gate,
  // and ONE rounded double division per surviving bigram.
  val x175: String =
    """WITH t AS (
      |  SELECT string_split(text, ' ') AS toks FROM documents
      |  WHERE text IS NOT NULL),
      |u AS (SELECT unnest(toks) AS tok FROM t),
      |uc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY tok),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM u),
      |p0 AS (
      |  SELECT unnest(list_transform(range(1, len(toks)),
      |    i -> {'u': toks[i], 'v': toks[i + 1]})) AS e
      |  FROM t),
      |bc AS (
      |  SELECT e.u AS u, e.v AS v, CAST(count(*) AS BIGINT) AS c_uv
      |  FROM p0 GROUP BY 1, 2 HAVING count(*) >= 5)
      |SELECT bc.u || ' ' || bc.v AS bigram,
      |       bc.c_uv AS n_pair,
      |       floor(CAST(bc.c_uv * n.n_tot AS DOUBLE)
      |             / CAST(cu.c * cv.c AS DOUBLE) * 1000000 + 0.5) / 1000000 AS lift
      |FROM bc
      |JOIN uc cu ON cu.tok = bc.u
      |JOIN uc cv ON cv.tok = bc.v, n
      |ORDER BY lift DESC, bigram
      |LIMIT 20""".stripMargin

  // x176: the per-source datasheet — exact integers, one rounded division
  // each for dup fraction and mean length, exact interpolated median.
  val x176: String =
    """SELECT source,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_null_text,
      |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |       CAST(sum(CASE WHEN text IS NOT NULL
      |                     THEN len(string_split(text, ' ')) END) AS BIGINT)
      |         AS n_tokens,
      |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
      |       floor((1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE)
      |                    / sum(CASE WHEN text IS NOT NULL THEN 1 ELSE 0 END))
      |             * 1000000 + 0.5) / 1000000 AS dup_frac,
      |       floor(CAST(sum(n_chars) AS DOUBLE) / count(*)
      |             * 1000000 + 0.5) / 1000000 AS mean_chars,
      |       quantile_cont(n_chars, 0.5) AS p50_chars
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // x177: the identical BM25 arithmetic — rounded avgdl, rounded raw idf,
  // rounded length norm, one rounded expression per term score with the
  // same parenthesization, DECIMAL-summed per doc.
  val x177: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |  WHERE text IS NOT NULL),
      |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
      |u AS (SELECT doc_id, unnest(toks) AS tok FROM t),
      |stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(dl) AS BIGINT) AS n_tok
      |  FROM d),
      |a AS (
      |  SELECT n_docs,
      |         floor(CAST(n_tok AS DOUBLE) / n_docs * 1000000 + 0.5)
      |           / 1000000 AS avgdl
      |  FROM stats),
      |df AS (
      |  SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      |  FROM u GROUP BY tok),
      |q AS (SELECT tok, df FROM df ORDER BY df DESC, tok LIMIT 3),
      |tf AS (
      |  SELECT u.doc_id, u.tok, CAST(count(*) AS BIGINT) AS tf
      |  FROM u JOIN q ON q.tok = u.tok GROUP BY 1, 2),
      |term AS (
      |  SELECT tf.doc_id,
      |         floor(floor((a.n_docs - q.df + 0.5) / (q.df + 0.5)
      |                     * 1000000 + 0.5) / 1000000
      |               * (tf.tf * 2.2)
      |               / (tf.tf + 1.2
      |                  * (floor((0.25 + 0.75 * (CAST(d.dl AS DOUBLE) / a.avgdl))
      |                           * 1000000 + 0.5) / 1000000))
      |               * 1000000 + 0.5) / 1000000 AS s
      |  FROM tf
      |  JOIN q ON q.tok = tf.tok
      |  JOIN d ON d.doc_id = tf.doc_id, a)
      |SELECT doc_id,
      |       CAST(sum(CAST(s AS DECIMAL(38,6))) AS DOUBLE) AS bm25
      |FROM term GROUP BY doc_id
      |ORDER BY bm25 DESC, doc_id
      |LIMIT 20""".stripMargin

  // x178: each rule compares a ratio of exact integers to a literal
  // threshold (identical doubles both engines); per-source fail counts are
  // exact, only the pass fraction is rounded.
  val x178: String =
    """WITH s AS (
      |  SELECT source, n_chars,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |         CAST(len(list_filter(string_split(text, ' '),
      |           t -> list_contains(['the','a','of','to','and'], t))) AS BIGINT)
      |           AS n_stop,
      |         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
      |           AS n_distinct,
      |         CAST(len(replace(text, ' ', '')) AS BIGINT) AS n_alpha
      |  FROM documents WHERE text IS NOT NULL),
      |f AS (
      |  SELECT source,
      |    CASE WHEN n_tok < 20 OR n_tok > 90 THEN 1 ELSE 0 END AS f_len,
      |    CASE WHEN CAST(n_alpha AS DOUBLE) / n_tok < 4.1
      |           OR CAST(n_alpha AS DOUBLE) / n_tok > 4.9
      |         THEN 1 ELSE 0 END AS f_wordlen,
      |    CASE WHEN n_stop < 2 THEN 1 ELSE 0 END AS f_stop,
      |    CASE WHEN 1.0 - CAST(n_distinct AS DOUBLE) / n_tok > 0.6
      |         THEN 1 ELSE 0 END AS f_dup,
      |    CASE WHEN n_chars > 500 THEN 1 ELSE 0 END AS f_chars
      |  FROM s)
      |SELECT source,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(f_len) AS BIGINT) AS fail_len,
      |       CAST(sum(f_wordlen) AS BIGINT) AS fail_wordlen,
      |       CAST(sum(f_stop) AS BIGINT) AS fail_stop,
      |       CAST(sum(f_dup) AS BIGINT) AS fail_dup,
      |       CAST(sum(f_chars) AS BIGINT) AS fail_chars,
      |       CAST(sum(CASE WHEN f_len + f_wordlen + f_stop + f_dup + f_chars = 0
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
      |       floor(CAST(sum(CASE WHEN f_len + f_wordlen + f_stop + f_dup + f_chars = 0
      |                           THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
      |             * 1000000 + 0.5) / 1000000 AS pass_frac
      |FROM f GROUP BY source ORDER BY source""".stripMargin

  // x179: identical decimation schedule (k by original doc_id % 11,
  // even/odd pair ids), x13's exact signature/band SQL, x20's
  // distinct-shingle Jaccard, and the analytic curve as the identical
  // explicit multiply chain (no pow()).
  val x179: String =
    """WITH base AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |  WHERE text IS NOT NULL),
      |d2 AS (
      |  SELECT doc_id * 2 AS doc_id, toks FROM base
      |  UNION ALL
      |  SELECT doc_id * 2 + 1 AS doc_id,
      |         list_transform(
      |           list_filter(range(1, len(toks) + 1),
      |             i -> i % ([2,3,4,5,6,8,10,14,20,40,1000000]
      |                       [CAST(doc_id % 11 AS INT) + 1]) != 0),
      |           i -> toks[i]) AS toks
      |  FROM base),
      |sh AS (
      |  SELECT doc_id,
      |         unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
      |                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS shingle
      |  FROM d2),
      |shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
      |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shd GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS d1, CAST(count(*) AS BIGINT) AS ni
      |  FROM shd a JOIN shd b
      |    ON a.doc_id + 1 = b.doc_id AND a.shingle = b.shingle
      |  GROUP BY a.doc_id),
      |mh AS (
      |  SELECT doc_id, j, min(md5(concat(CAST(j AS VARCHAR), '|', shingle))) AS mh
      |  FROM sh, range(0, 16) s(j) GROUP BY doc_id, j),
      |band AS (
      |  SELECT doc_id, j // 4 AS band, md5(string_agg(mh, ',' ORDER BY j)) AS bh
      |  FROM mh GROUP BY doc_id, j // 4),
      |coll AS (
      |  SELECT DISTINCT x.doc_id AS d1
      |  FROM band x JOIN band y
      |    ON x.band = y.band AND x.bh = y.bh AND x.doc_id + 1 = y.doc_id),
      |pairs AS (
      |  SELECT sa.doc_id AS d1, sa.n AS na, sb.n AS nb,
      |         coalesce(i.ni, 0) AS ni,
      |         CASE WHEN c.d1 IS NULL THEN 0 ELSE 1 END AS hit
      |  FROM sizes sa
      |  JOIN sizes sb ON sa.doc_id + 1 = sb.doc_id
      |  LEFT JOIN inter i ON i.d1 = sa.doc_id
      |  LEFT JOIN coll c ON c.d1 = sa.doc_id
      |  WHERE sa.doc_id % 2 = 0),
      |binned AS (
      |  SELECT least(CAST(floor(CAST(ni AS DOUBLE) / CAST(na + nb - ni AS DOUBLE)
      |                          * 10) AS BIGINT), 9) AS bin,
      |         hit
      |  FROM pairs),
      |g AS (
      |  SELECT bin, CAST(count(*) AS BIGINT) AS n_pairs,
      |         CAST(sum(hit) AS BIGINT) AS n_collide
      |  FROM binned GROUP BY bin),
      |c1 AS (SELECT *, (CAST(bin AS DOUBLE) + 0.5) / 10.0 AS s FROM g),
      |c2 AS (SELECT *, 1.0 - (s * s) * (s * s) AS t FROM c1)
      |SELECT bin, n_pairs, n_collide,
      |       floor(CAST(n_collide AS DOUBLE) / n_pairs * 1000000 + 0.5)
      |         / 1000000 AS emp_collide,
      |       floor((1.0 - (t * t) * (t * t)) * 1000000 + 0.5) / 1000000
      |         AS analytic_collide
      |FROM c2 ORDER BY bin""".stripMargin

  // x180: quantile_cont == Spark percentile (the x25 contract) over the
  // identical deterministic 10% sample, boundaries round6'd before the
  // strictly-below bucket count, one rounded share.
  val x180: String =
    """WITH v AS (
      |  SELECT l_extendedprice AS v FROM lineitem
      |  WHERE l_extendedprice IS NOT NULL),
      |b AS (
      |  SELECT list_transform(
      |    quantile_cont(l_extendedprice, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
      |    x -> floor(x * 1000000 + 0.5) / 1000000) AS bnds
      |  FROM lineitem
      |  WHERE l_orderkey % 10 = 0 AND l_extendedprice IS NOT NULL),
      |r AS (
      |  SELECT CAST(len(list_filter(b.bnds, x -> v.v > x)) AS BIGINT) AS bucket,
      |         v.v AS v
      |  FROM v, b),
      |g AS (
      |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
      |         min(v) AS min_v, max(v) AS max_v
      |  FROM r GROUP BY bucket)
      |SELECT bucket, n_rows,
      |       floor(CAST(n_rows AS DOUBLE) / CAST(sum(n_rows) OVER () AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS share,
      |       min_v, max_v
      |FROM g ORDER BY bucket""".stripMargin

  // x181: identical id-space decile (integer arithmetic), bigram-keyed min
  // first-bucket, exact cumulative counts, one rounded cumulative share.
  val x181: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |  WHERE text IS NOT NULL),
      |n AS (SELECT CAST(max(doc_id) + 1 AS BIGINT) AS ub FROM t),
      |p AS (
      |  SELECT doc_id,
      |         unnest(list_transform(range(1, len(toks)),
      |           i -> {'u': toks[i], 'v': toks[i + 1]})) AS e
      |  FROM t),
      |fb AS (
      |  SELECT e.u AS u, e.v AS v,
      |         min(least((doc_id * 10) // n.ub, 9)) AS bucket
      |  FROM p, n GROUP BY e.u, e.v),
      |g AS (
      |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_new
      |  FROM fb GROUP BY bucket)
      |SELECT bucket, n_new,
      |       CAST(sum(n_new) OVER (ORDER BY bucket) AS BIGINT) AS cum_new,
      |       floor(CAST(sum(n_new) OVER (ORDER BY bucket) AS DOUBLE)
      |             / CAST(sum(n_new) OVER () AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS cum_frac
      |FROM g ORDER BY bucket""".stripMargin

  // x182: the expected END STATE of the partition-granular rewrite,
  // rebuilt from the original table — static-overwrite clobbering or
  // append duplication both break the row set, so the hash pins the
  // dynamic semantics exactly.
  val x182: String =
    """SELECT lang,
      |       CASE WHEN lang = 'en' THEN upper(source) ELSE source END AS source,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |       CAST(sum(len(text)) AS BIGINT) AS sum_text_len
      |FROM documents
      |GROUP BY 1, 2
      |ORDER BY lang, source""".stripMargin

  // x183: identical 64-bit integer recursion in both engines — anchor
  // (1, n_tok), step mid = (lo+hi) integer-div 2 (DuckDB `//` = Spark
  // `div` on positives), CASE split, depth counter; no doubles anywhere.
  val x183: String =
    """WITH RECURSIVE d AS (
      |  SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents WHERE text IS NOT NULL),
      |chunks(doc_id, source, lo, hi, depth) AS (
      |  SELECT doc_id, source, CAST(1 AS BIGINT), n_tok, 0 FROM d
      |  UNION ALL
      |  SELECT c.doc_id, c.source,
      |         CASE WHEN s.s = 0 THEN c.lo ELSE (c.lo + c.hi) // 2 + 1 END,
      |         CASE WHEN s.s = 0 THEN (c.lo + c.hi) // 2 ELSE c.hi END,
      |         c.depth + 1
      |  FROM chunks c CROSS JOIN (SELECT 0 AS s UNION ALL SELECT 1) s
      |  WHERE c.hi - c.lo + 1 > 32)
      |SELECT source, CAST(depth AS BIGINT) AS depth,
      |       CAST(count(*) AS BIGINT) AS n_chunks,
      |       CAST(sum(hi - lo + 1) AS BIGINT) AS sum_tokens,
      |       CAST(max(hi - lo + 1) AS BIGINT) AS max_chunk
      |FROM chunks WHERE hi - lo + 1 <= 32
      |GROUP BY source, depth
      |ORDER BY source, depth""".stripMargin

  // x184: the bloom filter is semantics-free, so the oracle is the plain
  // join aggregate (x2's decimal-exact revenue contract); a hash match
  // proves the runtime filter produced zero false negatives.
  val x184: String =
    """SELECT l_returnflag, l_linestatus,
      |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |                      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS urgent_revenue,
      |       CAST(count(*) AS BIGINT) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // x185: the connector's line-side partial aggregation re-merged by Spark
  // must equal the same aggregate over the parquet table the TSV was
  // written from — exact 64-bit integers end to end.
  val x185: String =
    """SELECT source,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(min(n_chars) AS BIGINT) AS min_chars,
      |       CAST(max(n_chars) AS BIGINT) AS max_chars,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // x186: exact integer counts/squares/sums; the only double is the
  // round6'd share (identical division both engines).
  val x186: String =
    """WITH k AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |         CAST(count(*) AS BIGINT) * CAST(count(*) AS BIGINT) AS contrib
      |  FROM events WHERE user_id IS NOT NULL
      |  GROUP BY user_id),
      |t AS (
      |  SELECT CAST(sum(contrib) AS BIGINT) AS total_join_rows,
      |         CAST(count(*) AS BIGINT) AS n_keys FROM k)
      |SELECT user_id, n, contrib,
      |       floor(CAST(contrib AS DOUBLE) / CAST(total_join_rows AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS share,
      |       total_join_rows, n_keys
      |FROM k CROSS JOIN t
      |ORDER BY contrib DESC, user_id
      |LIMIT 10""".stripMargin

  // x187: the oracle inlines the two SQL-UDF bodies — gate comparisons are
  // pure integers, the density is one round6'd division per group.
  val x187: String =
    """WITH s AS (
      |  SELECT source,
      |         CAST(len(list_filter(string_split(text, ' '),
      |           t -> list_contains(['the','a','of','to','and'], t))) AS BIGINT)
      |           AS n_stop,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents WHERE text IS NOT NULL)
      |SELECT source,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(CASE WHEN n_stop >= 2 AND n_tok >= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
      |       floor(CAST(sum(n_stop) AS DOUBLE) / sum(n_tok) * 1000000 + 0.5) / 1000000 AS stop_density
      |FROM s
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // x188: DuckDB's unnest(range(…)) is the TVF's inlined form (this DuckDB
  // build's generate_series rejects lateral column refs) — identical
  // 64-bit sequence/least arithmetic, zero doubles.
  val x188: String =
    """WITH d AS (
      |  SELECT doc_id, source,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents WHERE text IS NOT NULL),
      |e AS (
      |  SELECT source, n_tok,
      |         unnest(range(0, (n_tok - 1) // 40 + 1)) AS i
      |  FROM d),
      |c AS (
      |  SELECT source, i * 40 + 1 AS lo, least((i + 1) * 40, n_tok) AS hi
      |  FROM e)
      |SELECT source,
      |       CAST(count(*) AS BIGINT) AS n_chunks,
      |       CAST(sum(hi - lo + 1) AS BIGINT) AS sum_tokens,
      |       CAST(sum(CASE WHEN hi - lo + 1 < 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_short_tail
      |FROM c
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // x189: the on-disk streaming state must equal the plain grouped
  // aggregate of the input — counts and micro-unit sums are exact 64-bit
  // integers, so the state cannot drift by float summation order.
  val x189: String =
    """SELECT user_id,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_micro
      |FROM events
      |WHERE user_id IS NOT NULL AND value IS NOT NULL
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // x190: end-state report rebuilt from the original table — a surviving
  // opt-out row would inflate n_docs, an over-deleted partition would
  // deflate it; sum over zero survivors is NULL in both engines.
  val x190: String =
    """SELECT lang, source,
      |       CAST(count(CASE WHEN doc_id % 997 != 0 THEN 1 END) AS BIGINT) AS n_docs,
      |       CAST(count(CASE WHEN doc_id % 997 = 0 THEN 1 END) AS BIGINT) AS deleted,
      |       CAST(CASE WHEN count(CASE WHEN doc_id % 997 = 0 THEN 1 END) > 0
      |            THEN 1 ELSE 0 END AS BIGINT) AS rewritten,
      |       CAST(sum(CASE WHEN doc_id % 997 != 0 THEN n_chars END) AS BIGINT) AS sum_chars
      |FROM documents
      |GROUP BY lang, source
      |ORDER BY lang, source""".stripMargin

  // x191: the gate's close-on-crossing rule IS a window predicate — prior
  // running total (exact micro ints) below the integer budget; order by
  // (ts-micros, event_id) is unique so both engines sort identically.
  val x191: String =
    """WITH e AS (
      |  SELECT user_id, event_id,
      |         CAST(epoch_us(ts) AS BIGINT) AS ts_us,
      |         CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v_micro
      |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      |g AS (
      |  SELECT user_id, v_micro,
      |         COALESCE(sum(v_micro) OVER (PARTITION BY user_id
      |           ORDER BY ts_us, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           AS c_before
      |  FROM e)
      |SELECT user_id,
      |       CAST(sum(CASE WHEN c_before < 2000000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_accepted,
      |       CAST(sum(CASE WHEN c_before < 2000000000 THEN 0 ELSE 1 END) AS BIGINT) AS n_rejected,
      |       CAST(sum(CASE WHEN c_before < 2000000000 THEN v_micro ELSE 0 END) AS BIGINT) AS sum_accepted_micro
      |FROM g
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // x192: the naive P-rescans form — one strpos per (doc, term) — is the
  // semantic ground truth the one-pass automaton must reproduce; VALUES
  // list shared verbatim with LlmQueries.X192Terms. n_matched counts
  // DISTINCT terms present (one hits row per present term), offset ties
  // break to min(term).
  val x192: String =
    """WITH terms(term) AS (VALUES ('fast'), ('fast sort'), ('sort key'),
      |  ('table table'), ('query key'), ('stream window'), ('the line'),
      |  ('merge batch'), ('big query'), ('key scan'), ('scan slow'),
      |  ('row fast'), ('value fast'), ('part filter'), ('group value'),
      |  ('order data'), ('customer join'), ('window spark'), ('hash value'),
      |  ('join small'), ('agg row'), ('a a')),
      |docs AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
      |hits AS (
      |  SELECT d.doc_id, t.term, strpos(d.text, t.term) AS pos
      |  FROM docs d CROSS JOIN terms t
      |  WHERE strpos(d.text, t.term) > 0),
      |agg AS (
      |  SELECT doc_id, CAST(count(*) AS INT) AS n_matched,
      |         CAST(min(pos) AS INT) AS first_pos
      |  FROM hits GROUP BY doc_id),
      |ft AS (
      |  SELECT h.doc_id, min(h.term) AS first_term
      |  FROM hits h JOIN agg a ON h.doc_id = a.doc_id AND h.pos = a.first_pos
      |  GROUP BY h.doc_id)
      |SELECT d.doc_id,
      |       COALESCE(a.n_matched, 0) AS n_matched,
      |       COALESCE(a.first_pos, 0) AS first_pos,
      |       COALESCE(ft.first_term, '') AS first_term
      |FROM docs d
      |LEFT JOIN agg a USING (doc_id)
      |LEFT JOIN ft USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // x193: identical per-cell IEEE sequence (marginals cast double first,
  // e = rt*ct/n left-assoc), per-cell stableRound6, DECIMAL(38,6) sum.
  val x193: String =
    """WITH cells AS (
      |  SELECT lang, source, CAST(count(*) AS BIGINT) AS o
      |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
      |  GROUP BY lang, source),
      |t AS (
      |  SELECT o, lang, source,
      |         CAST(sum(o) OVER (PARTITION BY lang) AS DOUBLE) AS rt,
      |         CAST(sum(o) OVER (PARTITION BY source) AS DOUBLE) AS ct,
      |         CAST(sum(o) OVER () AS DOUBLE) AS n
      |  FROM cells),
      |terms AS (
      |  SELECT n, lang, source,
      |         floor((CAST(o AS DOUBLE) - rt * ct / n) * (CAST(o AS DOUBLE) - rt * ct / n)
      |               / (rt * ct / n) * 1000000 + 0.5) / 1000000 AS term
      |  FROM t),
      |agg AS (
      |  SELECT CAST(max(n) AS BIGINT) AS n_docs,
      |         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
      |         CAST(sum(CAST(term AS DECIMAL(38,6))) AS DOUBLE) AS chi2raw
      |  FROM terms)
      |SELECT n_docs, n_langs, n_sources,
      |       (n_langs - 1) * (n_sources - 1) AS dof,
      |       floor(chi2raw * 1000000 + 0.5) / 1000000 AS chi2,
      |       floor(sqrt(chi2raw / (CAST(n_docs AS DOUBLE) *
      |             least(n_langs - 1, n_sources - 1))) * 1000000 + 0.5) / 1000000 AS cramers_v
      |FROM agg""".stripMargin

  // x194: x6's gap rule + the watermark-closure predicate. A session is
  // emitted iff a later event gap-closed it OR its horizon (end + 30 min)
  // is strictly below the final watermark (max ts − 600.5 s). Event times
  // floored to whole seconds; the .5 s delay fraction makes horizon ==
  // watermark impossible, so engine strictness conventions can't flip rows.
  val x194: String =
    """WITH e AS (
      |  SELECT user_id,
      |         (epoch_us(ts) // 1000000) * 1000000 AS ts_us,
      |         CAST(floor(coalesce(value, 0) * 1000000 + 0.5) AS BIGINT) AS v_micro
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |g AS (
      |  SELECT user_id, ts_us, v_micro,
      |         CASE WHEN lag(ts_us) OVER w IS NULL
      |                OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
      |s AS (
      |  SELECT user_id, ts_us, v_micro,
      |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
      |           ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM g),
      |sess AS (
      |  SELECT user_id, sid, min(ts_us) AS start_us, max(ts_us) AS end_us,
      |         CAST(count(*) AS BIGINT) AS n_events,
      |         CAST(sum(v_micro) AS BIGINT) AS sum_micro
      |  FROM s GROUP BY user_id, sid),
      |wm AS (SELECT max(ts_us) - 600500000 AS wm_us FROM e),
      |closed AS (
      |  SELECT c.user_id, c.start_us, c.end_us, c.n_events, c.sum_micro
      |  FROM sess c, wm
      |  WHERE c.sid < (SELECT max(sid) FROM sess m WHERE m.user_id = c.user_id)
      |     OR c.end_us + 1800000000 < wm.wm_us)
      |SELECT user_id,
      |       CAST(row_number() OVER (PARTITION BY user_id ORDER BY start_us) AS BIGINT) AS session_id,
      |       start_us, end_us, n_events, sum_micro
      |FROM closed
      |ORDER BY user_id, session_id""".stripMargin

  // x195: every profile field as a declarative aggregate — the composite
  // MapState/ListState fold must equal these exactly.
  val x195: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
      |         CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v_micro
      |  FROM events
      |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      |    AND value IS NOT NULL AND ts IS NOT NULL),
      |t AS (
      |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(v_micro) AS BIGINT) AS s
      |  FROM e GROUP BY user_id, event_type),
      |prof AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_types,
      |         CAST(sum(n) AS BIGINT) AS n_events,
      |         CAST(sum(s) AS BIGINT) AS sum_micro
      |  FROM t GROUP BY user_id),
      |top AS (
      |  SELECT user_id, event_type AS top_type, n AS top_type_n
      |  FROM (SELECT user_id, event_type, n,
      |          row_number() OVER (PARTITION BY user_id
      |            ORDER BY n DESC, event_type) AS rn FROM t)
      |  WHERE rn = 1),
      |rec AS (
      |  SELECT user_id,
      |         string_agg(CAST(event_id AS VARCHAR), ','
      |           ORDER BY ts_us DESC, event_id DESC) AS recent_ids
      |  FROM (SELECT user_id, event_id, ts_us,
      |          row_number() OVER (PARTITION BY user_id
      |            ORDER BY ts_us DESC, event_id DESC) AS rn FROM e)
      |  WHERE rn <= 3 GROUP BY user_id)
      |SELECT p.user_id, p.n_types, p.n_events, p.sum_micro,
      |       tp.top_type, tp.top_type_n, r.recent_ids
      |FROM prof p
      |JOIN top tp USING (user_id)
      |JOIN rec r USING (user_id)
      |ORDER BY p.user_id""".stripMargin

  // x196: the observed in-flight metrics must equal the declarative
  // after-the-fact aggregation. DuckDB len(string_split(..)) mirrors
  // Spark size(split(..)) on the space-tokenized fixture text.
  val x196: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
      |       CAST(count(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS n_en,
      |       CAST(max(n_chars) AS BIGINT) AS max_chars
      |FROM documents WHERE text IS NOT NULL""".stripMargin

  // x197: HUGEINT moments, then the identical final float sequence the
  // Aggregator's finish runs — (s/n)/100 and (n·Σc²−s²)/(n·n)/10000, each
  // round6'd once.
  val x197: String =
    """WITH e AS (
      |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
      |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
      |a AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(c) AS BIGINT) AS s,
      |         sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS q
      |  FROM e GROUP BY event_type)
      |SELECT event_type, n,
      |       floor(((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0)
      |             * 1000000 + 0.5) / 1000000 AS mean,
      |       floor(((CAST(CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * CAST(s AS HUGEINT) AS DOUBLE)
      |               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) / 10000.0)
      |             * 1000000 + 0.5) / 1000000 AS var_pop
      |FROM a ORDER BY event_type""".stripMargin

  // x198: RANGE frame over the event-time axis — ties at the current
  // timestamp are all peers of the frame in both engines.
  val x198: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |         CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v_micro
      |  FROM events
      |  WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL)
      |SELECT user_id, event_id, ts_us,
      |       CAST(count(*) OVER w AS BIGINT) AS n_1h,
      |       CAST(sum(v_micro) OVER w AS BIGINT) AS sum_1h
      |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
      |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin

  // x199: x192's per-phrase strpos form feeds the gates; per-lang
  // sqrt-temperature allocation mirrors x119's arithmetic partitioned by
  // lang. VALUES list shared verbatim with LlmQueries.X192Terms.
  val x199: String =
    """WITH terms(term) AS (VALUES ('fast'), ('fast sort'), ('sort key'),
      |  ('table table'), ('query key'), ('stream window'), ('the line'),
      |  ('merge batch'), ('big query'), ('key scan'), ('scan slow'),
      |  ('row fast'), ('value fast'), ('part filter'), ('group value'),
      |  ('order data'), ('customer join'), ('window spark'), ('hash value'),
      |  ('join small'), ('agg row'), ('a a')),
      |docs AS (
      |  SELECT doc_id, lang, source, text,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
      |  FROM documents WHERE text IS NOT NULL),
      |nm AS (
      |  SELECT d.doc_id, CAST(count(t.term) AS BIGINT) AS n_matched
      |  FROM docs d LEFT JOIN terms t ON strpos(d.text, t.term) > 0
      |  GROUP BY d.doc_id),
      |scr AS (
      |  SELECT d.doc_id, d.lang, d.source, d.text, d.n_toks, n.n_matched
      |  FROM docs d JOIN nm n USING (doc_id)
      |  WHERE d.n_toks >= 20 AND n.n_matched <= 8),
      |ded AS (
      |  SELECT * FROM (
      |    SELECT s.*, row_number() OVER (PARTITION BY lang, md5(text)
      |      ORDER BY doc_id) AS rn FROM scr s)
      |  WHERE rn = 1),
      |src AS (
      |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(n_toks) AS BIGINT) AS n_toks,
      |         CAST(sum(n_matched) AS BIGINT) AS n_hits
      |  FROM ded GROUP BY lang, source),
      |s2 AS (
      |  SELECT lang, source, n_docs, n_toks,
      |         floor(CAST(n_hits AS DOUBLE) / CAST(n_docs AS DOUBLE)
      |               * 1000000 + 0.5) / 1000000 AS hit_rate,
      |         floor(sqrt(CAST(n_toks AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS rsq
      |  FROM src),
      |s3 AS (
      |  SELECT *, CAST(sum(CAST(rsq AS DECIMAL(38,6)))
      |         OVER (PARTITION BY lang) AS DOUBLE) AS denom
      |  FROM s2)
      |SELECT lang, source, n_docs, n_toks, hit_rate,
      |       floor(rsq / denom * 1000000 + 0.5) / 1000000 AS weight,
      |       CAST(floor(rsq / denom * 1000000) AS BIGINT) AS alloc_toks
      |FROM s3 ORDER BY lang, source""".stripMargin

  // x200: which duplicate row survives is engine-internal; the KEPT count
  // per lang (= distinct content keys) is the deterministic contract.
  val x200: String =
    """SELECT lang, CAST(count(DISTINCT text) AS BIGINT) AS n_kept
      |FROM documents WHERE text IS NOT NULL
      |GROUP BY lang ORDER BY lang""".stripMargin

  // x201: first significant digit via the integer's decimal STRING (no
  // log/power on data); Benford expectations are shared literals.
  val x201: String =
    """WITH d AS (
      |  SELECT CAST(substr(CAST(m AS VARCHAR), 1, 1) AS INT) AS digit
      |  FROM (SELECT CAST(floor(abs(value) * 1000000 + 0.5) AS BIGINT) AS m
      |        FROM events WHERE value IS NOT NULL)
      |  WHERE m > 0),
      |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit),
      |t AS (SELECT digit, n, sum(n) OVER () AS total FROM c),
      |f AS (SELECT digit, n,
      |        floor(CAST(n AS DOUBLE) / CAST(total AS DOUBLE) * 1000000 + 0.5) / 1000000 AS freq
      |      FROM t),
      |bexp(digit, expected) AS (VALUES (1, 0.301030), (2, 0.176091),
      |  (3, 0.124939), (4, 0.096910), (5, 0.079181), (6, 0.066947),
      |  (7, 0.057992), (8, 0.051153), (9, 0.045757))
      |SELECT f.digit, f.n, f.freq, b.expected,
      |       floor((f.freq - b.expected) * 1000000 + 0.5) / 1000000 AS dev
      |FROM f JOIN bexp b USING (digit)
      |ORDER BY f.digit""".stripMargin

  // x202: doubled tie-averaged ranks (2·rank + ties − 1: exact BIGINT sums),
  // identical final float sequence for U and the tie-corrected z.
  val x202: String =
    """WITH e AS (
      |  SELECT epoch_us(ts) AS ts_us,
      |         CAST(floor(value + 0.5) AS BIGINT) AS m
      |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
      |mm AS (SELECT (min(ts_us) + max(ts_us)) // 2 AS t_mid FROM e),
      |v AS (
      |  SELECT m, CAST(count(*) AS BIGINT) AS c,
      |         CAST(sum(CASE WHEN ts_us <= (SELECT t_mid FROM mm)
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS ce
      |  FROM e GROUP BY m),
      |r AS (
      |  SELECT m, c, ce,
      |         sum(c) OVER (ORDER BY m ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM v),
      |r2 AS (SELECT c, ce, 2 * (cum - c + 1) + c - 1 AS r2 FROM r),
      |a AS (
      |  SELECT CAST(sum(ce) AS BIGINT) AS n1,
      |         CAST(sum(c) - sum(ce) AS BIGINT) AS n2,
      |         CAST(sum(ce * r2) AS BIGINT) AS sr2_1,
      |         sum(CAST(c AS HUGEINT) * c * c - c) AS tie3
      |  FROM r2),
      |u AS (
      |  SELECT n1, n2, tie3,
      |         CAST(sr2_1 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1
      |  FROM a)
      |SELECT n1, n2, u1,
      |       floor(((u1 - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
      |         / sqrt((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0) *
      |                (CAST(n1 + n2 + 1 AS DOUBLE) -
      |                 CAST(tie3 AS DOUBLE) /
      |                   (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)))))
      |         * 1000000 + 0.5) / 1000000 AS z
      |FROM u""".stripMargin

  // x203: pure integer epoch arithmetic — engine calendar conventions
  // (Sunday=0 vs 1) can't disagree. Epoch day 0 was a Thursday (dow 4).
  val x203: String =
    """SELECT (ts_us // 86400000000 + 4) % 7 AS dow,
      |       (ts_us % 86400000000) // 3600000000 AS hour,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(v_micro) AS BIGINT) AS sum_micro
      |FROM (SELECT epoch_us(ts) AS ts_us,
      |             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v_micro
      |      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL)
      |GROUP BY 1, 2 ORDER BY dow, hour""".stripMargin

  // x204: every column recomputed from the GENERATOR formulas alone — the
  // Spark side must recover them from the real AVI/WAV container parses.
  val x204: String =
    """WITH p AS (SELECT range AS pair_id FROM range(0, 24)),
      |d AS (SELECT pair_id,
      |        CAST(2 + pair_id % 4 AS BIGINT) AS n_frames,
      |        CAST(800 + (pair_id * 37) % 400 AS BIGINT) AS n_samples
      |      FROM p),
      |f AS (SELECT pair_id, n_frames, n_samples,
      |        CAST((n_samples + 999) // 1000 AS BIGINT) AS n_chunks
      |      FROM d),
      |a AS (SELECT f.pair_id, f.n_frames, f.n_samples, f.n_chunks,
      |        CAST(sum(CASE WHEN (8 * i.range) // 5 < f.n_chunks
      |                      THEN 1 ELSE 0 END) AS BIGINT) AS n_aligned
      |      FROM f JOIN range(0, 8) i ON i.range < f.n_frames
      |      GROUP BY f.pair_id, f.n_frames, f.n_samples, f.n_chunks)
      |SELECT pair_id, n_frames, n_samples, n_chunks, n_aligned
      |FROM a ORDER BY pair_id""".stripMargin

  // x205: doubled tie-averaged ranks (x202's exact-BIGINT trick) per
  // column, then x148's exact-moment Pearson over the ranks.
  val x205: String =
    """WITH base AS (
      |  SELECT CAST(floor(l_quantity + 0.5) AS BIGINT) AS q,
      |         CAST(floor(l_extendedprice + 0.5) AS BIGINT) AS p
      |  FROM lineitem
      |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
      |rq AS (
      |  SELECT q, 2 * (cum - c + 1) + c - 1 AS ra
      |  FROM (SELECT q, c, sum(c) OVER (ORDER BY q ROWS UNBOUNDED PRECEDING) AS cum
      |        FROM (SELECT q, count(*) AS c FROM base GROUP BY q))),
      |rp AS (
      |  SELECT p, 2 * (cum - c + 1) + c - 1 AS rb
      |  FROM (SELECT p, c, sum(c) OVER (ORDER BY p ROWS UNBOUNDED PRECEDING) AS cum
      |        FROM (SELECT p, count(*) AS c FROM base GROUP BY p))),
      |r AS (SELECT ra AS a, rb AS b FROM base JOIN rq USING (q) JOIN rp USING (p)),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(a) AS sa, sum(b) AS sb,
      |             sum(a * a) AS saa, sum(b * b) AS sbb, sum(a * b) AS sab
      |      FROM r)
      |SELECT n,
      |       floor(CAST(n * sab - sa * sb AS DOUBLE) /
      |             (sqrt(CAST(n * saa - sa * sa AS DOUBLE)) *
      |              sqrt(CAST(n * sbb - sb * sb AS DOUBLE)))
      |             * 1000000 + 0.5) / 1000000 AS rho
      |FROM m""".stripMargin

  // x206: the cross-group float sum is replaced by the exact integer
  // Σ (Rj2² div 4nj) — truncation < 1 per group keeps H's error below
  // round6 while making both engines bit-identical.
  val x206: String =
    """WITH e AS (
      |  SELECT event_type, CAST(floor(value + 0.5) AS BIGINT) AS m
      |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
      |vt AS (SELECT m, event_type, CAST(count(*) AS BIGINT) AS cg
      |       FROM e GROUP BY m, event_type),
      |v AS (SELECT m, CAST(sum(cg) AS BIGINT) AS c FROM vt GROUP BY m),
      |r AS (SELECT m, c, CAST(sum(c) OVER (ORDER BY m ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |      FROM v),
      |r2 AS (SELECT m, 2 * (cum - c + 1) + c - 1 AS r2,
      |              CAST(c AS HUGEINT) * c * c - c AS t3 FROM r),
      |bg AS (
      |  SELECT event_type, CAST(sum(cg) AS BIGINT) AS nj,
      |         CAST(sum(cg * r2.r2) AS BIGINT) AS rj2
      |  FROM vt JOIN r2 USING (m) GROUP BY event_type),
      |g AS (
      |  SELECT CAST(sum(nj) AS BIGINT) AS nn,
      |         CAST(sum((CAST(rj2 AS HUGEINT) * rj2) // (4 * nj)) AS BIGINT) AS t_int
      |  FROM bg),
      |tt AS (SELECT sum(t3) AS tie3 FROM r2),
      |hh AS (
      |  SELECT nn, tie3,
      |         12.0 * CAST(t_int AS DOUBLE) /
      |           (CAST(nn AS DOUBLE) * CAST(nn + 1 AS DOUBLE))
      |           - 3.0 * CAST(nn + 1 AS DOUBLE) AS h
      |  FROM g, tt)
      |SELECT bg.event_type, bg.nj,
      |       CAST(bg.rj2 AS DOUBLE) / 2.0 AS rank_sum,
      |       floor(CAST(bg.rj2 AS DOUBLE) / (2.0 * CAST(bg.nj AS DOUBLE))
      |             * 1000000 + 0.5) / 1000000 AS mean_rank,
      |       floor(h * 1000000 + 0.5) / 1000000 AS h,
      |       floor(h / (1.0 - CAST(tie3 AS DOUBLE) /
      |                  CAST(CAST(nn AS HUGEINT) * nn * nn - nn AS DOUBLE))
      |             * 1000000 + 0.5) / 1000000 AS h_tie
      |FROM bg, hh
      |ORDER BY event_type""".stripMargin

  // x207: n-scaled CUSUM — S' = n·cum − i·Σx, exact BIGINT throughout.
  val x207: String =
    """WITH day AS (
      |  SELECT ts_us // 86400000000 AS day, CAST(sum(v) AS BIGINT) AS x
      |  FROM (SELECT epoch_us(ts) AS ts_us,
      |               CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v
      |        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL)
      |  GROUP BY 1),
      |g AS (SELECT CAST(count(*) AS BIGINT) AS nd, CAST(sum(x) AS BIGINT) AS sx
      |      FROM day),
      |c AS (SELECT day, x,
      |             CAST(sum(x) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
      |             CAST(count(*) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS i
      |      FROM day),
      |s AS (SELECT day, x, nd, nd * cum - i * sx AS s_scaled FROM c, g),
      |r AS (SELECT day, x, nd, s_scaled,
      |             row_number() OVER (ORDER BY abs(s_scaled) DESC, day) AS rank
      |      FROM s)
      |SELECT CAST(rank AS BIGINT) AS rank, day, x,
      |       CAST(s_scaled AS BIGINT) AS s_scaled, nd AS n_days
      |FROM r WHERE rank <= 5 ORDER BY rank""".stripMargin

  // x213: ln/exp on exact-integer-derived doubles (x133's log precedent),
  // immediately quantized to micro ints — bins and sums run on integers.
  val x213: String =
    """WITH t AS (SELECT doc_id, length(replace(text, ' ', '')) AS n_alpha
      |           FROM documents WHERE text IS NOT NULL),
      |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |        FROM documents WHERE text IS NOT NULL),
      |st AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |              CAST(sum(CASE WHEN token IN ('the','a','of','to','and')
      |                            THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
      |       FROM tok GROUP BY doc_id),
      |z AS (SELECT -1.5 + 0.4 * ln(CAST(s.n_tokens AS DOUBLE) + 1.0)
      |           - 2.5 * (CAST(s.n_stop AS DOUBLE) / s.n_tokens)
      |           + 0.05 * least(CAST(t.n_alpha AS DOUBLE) / s.n_tokens, 10.0) AS z
      |      FROM st s JOIN t ON s.doc_id = t.doc_id),
      |p AS (SELECT CAST(floor(1.0 / (1.0 + exp(-z)) * 1000000 + 0.5) AS BIGINT) AS p6
      |      FROM z)
      |SELECT CAST(least(p6 // 100000, 9) AS BIGINT) AS bin,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       floor(CAST(sum(p6) AS DOUBLE) / 1000000.0 / count(*)
      |             * 1000000 + 0.5) / 1000000 AS avg_score
      |FROM p GROUP BY 1 ORDER BY bin""".stripMargin

  // x214: zipped unnest + generate_subscripts (1-based, matching Spark's
  // posexplode + 1); exact micro-int moments, HUGEINT variance numerator.
  val x214: String =
    """WITH v AS (
      |  SELECT CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
      |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
      |              AS BIGINT) AS v6
      |  FROM embeddings WHERE embedding IS NOT NULL),
      |m AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(v6) AS BIGINT) AS sv,
      |             sum(CAST(v6 AS HUGEINT) * v6) AS svv,
      |             CAST(min(v6) AS BIGINT) AS minv6,
      |             CAST(max(v6) AS BIGINT) AS maxv6
      |      FROM v GROUP BY dim)
      |SELECT dim, n,
      |       floor(CAST(sv AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS mean,
      |       floor(CAST(n * svv - CAST(sv AS HUGEINT) * sv AS DOUBLE) /
      |             (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1000000000000.0
      |             * 1000000 + 0.5) / 1000000 AS variance,
      |       CAST(minv6 AS DOUBLE) / 1000000.0 AS min_v,
      |       CAST(maxv6 AS DOUBLE) / 1000000.0 AS max_v
      |FROM m ORDER BY dim""".stripMargin

  // x215: intersection-only join — a P-only word contributes exactly ½p,
  // so its mass is recovered from the exact ratio Σ_∩ca/ta with no
  // anti-join; per-term round6 + DECIMAL(28,6) sum (x101's discipline).
  val x215: String =
    """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w
      |             FROM documents WHERE text IS NOT NULL),
      |c AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
      |ct AS (SELECT source, w, c,
      |              CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS total
      |       FROM c),
      |j AS (SELECT a.source AS source_a, b.source AS source_b,
      |             a.c AS ca, b.c AS cb, a.total AS ta, b.total AS tb,
      |             CAST(a.c AS DOUBLE) / a.total AS p,
      |             CAST(b.c AS DOUBLE) / b.total AS q
      |      FROM ct a JOIN ct b ON a.w = b.w AND a.source < b.source),
      |t AS (SELECT source_a, source_b, ca, cb, ta, tb,
      |             floor(p * log2(2.0 * p / (p + q)) * 1000000 + 0.5) / 1000000 AS tp,
      |             floor(q * log2(2.0 * q / (p + q)) * 1000000 + 0.5) / 1000000 AS tq
      |      FROM j),
      |g AS (SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_common,
      |             CAST(sum(ca) AS BIGINT) AS sca, CAST(sum(cb) AS BIGINT) AS scb,
      |             max(ta) AS ta, max(tb) AS tb,
      |             sum(CAST(tp AS DECIMAL(28,6))) AS stp,
      |             sum(CAST(tq AS DECIMAL(28,6))) AS stq
      |      FROM t GROUP BY 1, 2),
      |gg AS (SELECT source_a, source_b, n_common,
      |              floor((0.5 * (CAST(stp AS DOUBLE)
      |                       + (1.0 - CAST(sca AS DOUBLE) / CAST(ta AS DOUBLE)))
      |                   + 0.5 * (CAST(stq AS DOUBLE)
      |                       + (1.0 - CAST(scb AS DOUBLE) / CAST(tb AS DOUBLE))))
      |                    * 1000000 + 0.5) / 1000000 AS jsd
      |       FROM g),
      |sp AS (SELECT a.source AS source_a, b.source AS source_b
      |       FROM (SELECT DISTINCT source FROM c) a
      |       JOIN (SELECT DISTINCT source FROM c) b ON a.source < b.source)
      |SELECT sp.source_a, sp.source_b,
      |       CAST(coalesce(n_common, 0) AS BIGINT) AS n_common,
      |       coalesce(jsd, 1.0) AS jsd
      |FROM sp LEFT JOIN gg USING (source_a, source_b)
      |ORDER BY source_a, source_b""".stripMargin

  // x216: x16's score CTE (x157's fragment) + the x53 chunk lineage as
  // the shared-content flag; every moment exact, one float chain round6'd.
  val x216: String =
    """WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS toks
      |            FROM documents WHERE text IS NOT NULL),
      |chk AS (
      |  SELECT doc_id, unnest(list_transform(
      |    range(0, CAST(ceil(len(toks) / 20.0) AS INT)),
      |    c -> md5(array_to_string(list_slice(toks, c * 20 + 1, c * 20 + 20), ' ')))) AS ch
      |  FROM t0),
      |sh AS (SELECT ch FROM chk GROUP BY ch HAVING count(DISTINCT doc_id) > 1),
      |fl AS (SELECT d.doc_id,
      |              CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup
      |       FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
      |       LEFT JOIN (SELECT DISTINCT chk.doc_id FROM chk JOIN sh USING (ch)) m
      |         ON d.doc_id = m.doc_id),
      |t AS (SELECT doc_id, length(replace(text, ' ', '')) AS n_alpha
      |      FROM documents WHERE text IS NOT NULL),
      |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |        FROM documents WHERE text IS NOT NULL),
      |st AS (SELECT doc_id, count(*) AS n_tokens,
      |              sum(CASE WHEN token IN ('the','a','of','to','and')
      |                       THEN 1 ELSE 0 END) AS n_stop
      |       FROM tok GROUP BY doc_id),
      |sc AS (SELECT s.doc_id,
      |              floor((0.4 * least(CAST(s.n_tokens AS DOUBLE), 50.0) / 50.0
      |                  + 0.3 * (1.0 - CAST(s.n_stop AS DOUBLE) / s.n_tokens)
      |                  + 0.3 * least(CAST(t.n_alpha AS DOUBLE) / s.n_tokens, 10.0) / 10.0)
      |                * 100000000 + 0.5) / 100000000 AS q
      |       FROM st s JOIN t ON s.doc_id = t.doc_id),
      |q6t AS (SELECT CAST(floor(q * 1000000 + 0.5) AS BIGINT) AS q6, fl.is_dup
      |        FROM sc JOIN fl ON sc.doc_id = fl.doc_id),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(is_dup) AS BIGINT) AS n1,
      |             CAST(sum(q6) AS BIGINT) AS sq,
      |             sum(CAST(q6 AS HUGEINT) * q6) AS sqq,
      |             CAST(sum(q6 * is_dup) AS BIGINT) AS sq1
      |      FROM q6t)
      |SELECT n, n1 AS n_dup,
      |       floor(((CAST(sq1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |               - CAST(sq - sq1 AS DOUBLE) / CAST(n - n1 AS DOUBLE))
      |              / (sqrt(CAST(n * sqq - CAST(sq AS HUGEINT) * sq AS DOUBLE))
      |                 / CAST(n AS DOUBLE))
      |              * sqrt(CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE)
      |                     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
      |             * 1000000 + 0.5) / 1000000 AS r_pb,
      |       floor(CAST(sq1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 1000000.0
      |             * 1000000 + 0.5) / 1000000 AS mean_q_dup,
      |       floor(CAST(sq - sq1 AS DOUBLE) / CAST(n - n1 AS DOUBLE) / 1000000.0
      |             * 1000000 + 0.5) / 1000000 AS mean_q_uniq
      |FROM m""".stripMargin

  // x226: the replay's sentinel flush makes it a TOTAL left outer join,
  // so the oracle is the plain batch LEFT JOIN — pairs as x160, plus
  // never-matched views as the NULL rows.
  val x226: String =
    """WITH e AS (SELECT user_id AS key, epoch_us(ts) AS t, event_type
      |           FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      |v AS (SELECT key, t FROM e WHERE event_type = 'view'),
      |c AS (SELECT key, t FROM e WHERE event_type = 'click'),
      |j AS (SELECT v.key, v.t AS lt, c.t AS rt
      |      FROM v LEFT JOIN c ON v.key = c.key AND c.t > v.t
      |        AND c.t <= v.t + 7200000000)
      |SELECT key AS user_id, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(CASE WHEN rt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched,
      |       CAST(count(rt) AS BIGINT) AS n_pairs,
      |       CAST(sum(rt - lt) AS BIGINT) AS sum_gap_us
      |FROM j GROUP BY key ORDER BY user_id""".stripMargin

  // x240: x15's s/p CTEs verbatim, then per-class metrics; F1 via the
  // harmonic identity 2tp/(n_pred + n_true) — one exact-integer ratio.
  val x240: String =
    """WITH s AS (
      |  SELECT doc_id, lang,
      |    (length(text) - length(replace(text, 'ch', ''))) / 2
      |      + (length(text) - length(replace(text, 'ei', ''))) / 2 AS s_de,
      |    (length(text) - length(replace(text, 'th', ''))) / 2
      |      + (length(text) - length(replace(text, 'he', ''))) / 2 AS s_en,
      |    (length(text) - length(replace(text, 'de', ''))) / 2
      |      + (length(text) - length(replace(text, 'la', ''))) / 2 AS s_es,
      |    (length(text) - length(replace(text, 'le', ''))) / 2
      |      + (length(text) - length(replace(text, 'ou', ''))) / 2 AS s_fr,
      |    (length(text) - length(replace(text, 'zh', ''))) / 2
      |      + (length(text) - length(replace(text, 'ng', ''))) / 2 AS s_zh
      |  FROM documents),
      |p AS (
      |  SELECT lang,
      |    CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
      |         WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
      |         WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
      |         WHEN s_fr >= s_zh THEN 'fr'
      |         ELSE 'zh' END AS predicted
      |  FROM s),
      |cells AS (SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n
      |          FROM p GROUP BY 1, 2),
      |tl AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_true FROM cells GROUP BY lang),
      |pl AS (SELECT predicted AS lang, CAST(sum(n) AS BIGINT) AS n_pred
      |       FROM cells GROUP BY 1),
      |tpx AS (SELECT lang, n AS tp FROM cells WHERE lang = predicted)
      |SELECT tl.lang, tl.n_true,
      |       CAST(coalesce(pl.n_pred, 0) AS BIGINT) AS n_pred,
      |       CAST(coalesce(tpx.tp, 0) AS BIGINT) AS tp,
      |       CASE WHEN coalesce(pl.n_pred, 0) > 0
      |            THEN floor(CAST(coalesce(tpx.tp, 0) AS DOUBLE)
      |                       / CAST(pl.n_pred AS DOUBLE) * 1000000 + 0.5) / 1000000
      |            ELSE 0.0 END AS prec,
      |       floor(CAST(coalesce(tpx.tp, 0) AS DOUBLE)
      |             / CAST(tl.n_true AS DOUBLE) * 1000000 + 0.5) / 1000000 AS rec,
      |       CASE WHEN coalesce(pl.n_pred, 0) + tl.n_true > 0
      |            THEN floor(2.0 * CAST(coalesce(tpx.tp, 0) AS DOUBLE)
      |                       / CAST(coalesce(pl.n_pred, 0) + tl.n_true AS DOUBLE)
      |                       * 1000000 + 0.5) / 1000000
      |            ELSE 0.0 END AS f1
      |FROM tl LEFT JOIN pl USING (lang) LEFT JOIN tpx USING (lang)
      |ORDER BY tl.lang""".stripMargin

  // x237: exact Σv6² per vector, one correctly-rounded sqrt, integer
  // binning on the re-quantized norm.
  val x237: String =
    """WITH v AS (SELECT vec_id,
      |                  CAST(floor(CAST(unnest(embedding) AS DOUBLE)
      |                             * 1000000 + 0.5) AS BIGINT) AS v6
      |           FROM embeddings WHERE embedding IS NOT NULL),
      |n2 AS (SELECT vec_id, CAST(sum(v6 * v6) AS BIGINT) AS n2
      |       FROM v GROUP BY vec_id),
      |nn AS (SELECT CAST(floor(sqrt(CAST(n2 AS DOUBLE)) + 0.5) AS BIGINT) AS norm6
      |       FROM n2)
      |SELECT norm6 // 100000 AS bin, CAST(count(*) AS BIGINT) AS n_vectors,
      |       CAST(min(norm6) AS DOUBLE) / 1000000.0 AS min_norm,
      |       CAST(max(norm6) AS DOUBLE) / 1000000.0 AS max_norm
      |FROM nn GROUP BY 1 ORDER BY bin""".stripMargin

  // x238: x47's own recursive closure, histogrammed — the full size
  // spectrum pinned, not just per-doc labels.
  val x238: String =
    s"""WITH $componentCtes,
      |cs AS (SELECT component, CAST(count(*) AS BIGINT) AS size
      |       FROM r GROUP BY component),
      |h AS (SELECT size, CAST(count(*) AS BIGINT) AS n_components
      |      FROM cs GROUP BY size)
      |SELECT size, n_components, size * n_components AS n_docs
      |FROM h ORDER BY size""".stripMargin

  // x239: micro-integer ln values make every OLS moment an exact BIGINT;
  // the 10⁶ scale factors cancel in the slope ratio.
  val x239: String =
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w
      |             FROM documents WHERE text IS NOT NULL),
      |c AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY w),
      |top AS (SELECT w, c, row_number() OVER (ORDER BY c DESC, w) AS rank
      |        FROM c QUALIFY rank <= 50),
      |p AS (SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS x6,
      |             CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS y6
      |      FROM top),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x6) AS BIGINT) AS sx,
      |             CAST(sum(y6) AS BIGINT) AS sy,
      |             CAST(sum(x6 * y6) AS BIGINT) AS sxy,
      |             CAST(sum(x6 * x6) AS BIGINT) AS sxx
      |      FROM p)
      |SELECT n AS n_terms,
      |       floor(CAST(n * sxy - sx * sy AS DOUBLE) /
      |             CAST(n * sxx - sx * sx AS DOUBLE) * 1000000 + 0.5) / 1000000 AS slope,
      |       floor((CAST(sy AS DOUBLE) -
      |              (CAST(n * sxy - sx * sy AS DOUBLE) /
      |               CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
      |             / (1000000.0 * CAST(n AS DOUBLE))
      |             * 1000000 + 0.5) / 1000000 AS intercept
      |FROM m""".stripMargin

  // x241: the k-th smallest 32-bit md5 prefix is a deterministic VALUE,
  // so the sketch estimate itself hash-matches — ('0x'||hex)::BIGINT is
  // the exact conv(...,16,10) parse (x80/x104 precedent); the estimate
  // divides exact ints once and rounds once, mirrored token-for-token.
  val x241: String =
    """WITH tok AS (
      |  SELECT DISTINCT source,
      |         ('0x' || substring(md5(w), 1, 8))::BIGINT AS h
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
      |        FROM documents WHERE text IS NOT NULL)),
      |ex AS (SELECT source, CAST(count(*) AS BIGINT) AS n_hashes
      |       FROM tok GROUP BY source),
      |rk AS (SELECT source, h,
      |              row_number() OVER (PARTITION BY source ORDER BY h) AS rn
      |       FROM tok),
      |hk AS (SELECT source,
      |              max(CASE WHEN rn <= 64 THEN h END) AS hk,
      |              CAST(count(*) FILTER (WHERE rn <= 64) AS BIGINT) AS m
      |       FROM rk GROUP BY source)
      |SELECT ex.source, ex.n_hashes,
      |       CASE WHEN hk.m < 64 THEN CAST(ex.n_hashes AS DOUBLE)
      |            ELSE floor(63.0 * 4294967296.0 / CAST(hk.hk AS DOUBLE)
      |                       * 1000000 + 0.5) / 1000000 END AS kmv_estimate,
      |       CASE WHEN hk.m < 64 THEN 0.0
      |            ELSE floor((63.0 * 4294967296.0 / CAST(hk.hk AS DOUBLE)
      |                        - CAST(ex.n_hashes AS DOUBLE))
      |                       / CAST(ex.n_hashes AS DOUBLE)
      |                       * 1000000 + 0.5) / 1000000 END AS rel_err
      |FROM ex JOIN hk USING (source)
      |ORDER BY source""".stripMargin

  // x242: HUGEINT moments mirror Spark's DECIMAL(38,0); every variance is
  // one exact-int division; the t/df float chain is mirrored
  // token-for-token (left-assoc divisions), round6 at the edge.
  val x242: String =
    """WITH d AS (SELECT source, CAST(n_chars AS HUGEINT) AS x
      |           FROM documents WHERE n_chars IS NOT NULL),
      |per AS (SELECT source, CAST(count(*) AS HUGEINT) AS n1,
      |               sum(x) AS s1, sum(x * x) AS q1
      |        FROM d GROUP BY source),
      |g AS (SELECT sum(n1) AS n, sum(s1) AS s, sum(q1) AS q FROM per),
      |j AS (SELECT source, n1, s1, q1,
      |             n - n1 AS n2, s - s1 AS s2, q - q1 AS q2
      |      FROM per, g),
      |c AS (SELECT source, n1, n2,
      |             CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
      |             CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
      |             CAST(q1 * n1 - s1 * s1 AS DOUBLE)
      |               / CAST(n1 * (n1 - 1) AS DOUBLE) / CAST(n1 AS DOUBLE) AS a,
      |             CAST(q2 * n2 - s2 * s2 AS DOUBLE)
      |               / CAST(n2 * (n2 - 1) AS DOUBLE) / CAST(n2 AS DOUBLE) AS b,
      |             CAST(n1 - 1 AS DOUBLE) AS f1, CAST(n2 - 1 AS DOUBLE) AS f2
      |      FROM j)
      |SELECT source, CAST(n1 AS BIGINT) AS n_src,
      |       floor(m1 * 1000000 + 0.5) / 1000000 AS mean_src,
      |       CASE WHEN n2 > 0
      |            THEN floor(m2 * 1000000 + 0.5) / 1000000 END AS mean_rest,
      |       CASE WHEN n1 > 1 AND n2 > 1
      |            THEN floor((m1 - m2) / sqrt(a + b) * 1000000 + 0.5) / 1000000
      |            END AS t,
      |       CASE WHEN n1 > 1 AND n2 > 1
      |            THEN floor((a + b) * (a + b) / (a * a / f1 + b * b / f2)
      |                 * 1000000 + 0.5) / 1000000 END AS df
      |FROM c ORDER BY source""".stripMargin

  // x243: the replicate weights are md5-derived ints both engines compute
  // identically; each replicate mean is one exact-int division round6'd;
  // CI bounds are order statistics of the bounded 100-row-per-source frame.
  val x243: String =
    """WITH d AS (SELECT source, doc_id, CAST(n_chars AS BIGINT) AS x
      |           FROM documents WHERE n_chars IS NOT NULL),
      |w AS (SELECT d.source, d.x, t.b,
      |             ('0x' || substring(md5('boot|' || CAST(t.b AS VARCHAR)
      |                 || '|' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
      |               % 3 AS w
      |      FROM d, range(1, 101) t(b)),
      |rep AS (SELECT source, b,
      |               floor(CAST(sum(w * x) AS DOUBLE) / CAST(sum(w) AS DOUBLE)
      |                     * 1000000 + 0.5) / 1000000 AS rm
      |        FROM w GROUP BY source, b
      |        HAVING sum(w) > 0),
      |rk AS (SELECT source, b, rm,
      |              row_number() OVER (PARTITION BY source ORDER BY rm, b) AS rn,
      |              count(*) OVER (PARTITION BY source) AS m
      |       FROM rep),
      |ci AS (SELECT source,
      |              min(CASE WHEN rn = (m + 39) // 40 THEN rm END) AS ci_lo,
      |              min(CASE WHEN rn = (39 * m + 39) // 40 THEN rm END) AS ci_hi
      |       FROM rk GROUP BY source),
      |pt AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
      |              floor(CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |                    * 1000000 + 0.5) / 1000000 AS mean
      |       FROM d GROUP BY source)
      |SELECT pt.source, pt.n, pt.mean, ci.ci_lo, ci.ci_hi
      |FROM pt JOIN ci USING (source)
      |ORDER BY source""".stripMargin

  // x244: +1-smoothed probabilities are exact rationals; ln collapses to
  // ONE ln of an exact integer ratio; per-bin terms round6 then
  // DECIMAL-sum (order-independent).
  val x244: String =
    """WITH d AS (SELECT source, CAST(n_chars AS BIGINT) // 100 AS bin,
      |                  CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS isa
      |           FROM documents WHERE n_chars IS NOT NULL),
      |bins AS (SELECT source, bin, CAST(sum(isa) AS BIGINT) AS ca,
      |                CAST(sum(1 - isa) AS BIGINT) AS cb
      |         FROM d GROUP BY source, bin),
      |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS kk,
      |               CAST(sum(ca) AS BIGINT) AS na,
      |               CAST(sum(cb) AS BIGINT) AS nb
      |        FROM bins GROUP BY source),
      |t AS (SELECT bins.source, kk, na, nb,
      |             CAST(ca + 1 AS DOUBLE) / CAST(na + kk AS DOUBLE)
      |               - CAST(cb + 1 AS DOUBLE) / CAST(nb + kk AS DOUBLE) AS dp,
      |             ln(CAST((ca + 1) * (nb + kk) AS DOUBLE)
      |                / CAST((cb + 1) * (na + kk) AS DOUBLE)) AS lr
      |      FROM bins JOIN tot USING (source)),
      |r AS (SELECT source, kk, na, nb,
      |             CAST(floor(dp * lr * 1000000 + 0.5) / 1000000
      |                  AS DECIMAL(18,6)) AS term
      |      FROM t)
      |SELECT source, max(kk) AS n_bins, max(na) AS n_a, max(nb) AS n_b,
      |       CAST(sum(term) AS DOUBLE) AS psi
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  // x245: regexp_extract_all lengths are exact counts (the alternation has
  // no engine-ambiguous backtracking); both ratios are one long/long IEEE
  // division round6'd.
  val x245: String =
    """WITH d AS (
      |  SELECT lang, n_chars,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
      |         CAST(len(regexp_extract_all(lower(text),
      |              '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS nt
      |  FROM documents WHERE text IS NOT NULL)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(nw) AS BIGINT) AS n_words,
      |       CAST(sum(nt) AS BIGINT) AS n_subtokens,
      |       floor(CAST(sum(nt) AS DOUBLE) / CAST(sum(nw) AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS fertility,
      |       floor(CAST(sum(n_chars) AS DOUBLE) / CAST(sum(nw) AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS chars_per_word
      |FROM d GROUP BY lang ORDER BY lang""".stripMargin

  // x247: identical lead windows; null event types filtered BEFORE
  // windowing in both engines (null group keys would also break
  // output-order parity between the engines' null orderings).
  val x247: String =
    """WITH e AS (SELECT user_id, event_id, event_type AS t1
      |           FROM events WHERE event_type IS NOT NULL),
      |tri AS (
      |  SELECT user_id, t1,
      |         lead(t1, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS t2,
      |         lead(t1, 2) OVER (PARTITION BY user_id ORDER BY event_id) AS t3
      |  FROM e)
      |SELECT t1, t2, t3, CAST(count(DISTINCT user_id) AS BIGINT) AS support,
      |       CAST(count(*) AS BIGINT) AS n_occ
      |FROM tri WHERE t2 IS NOT NULL AND t3 IS NOT NULL
      |GROUP BY t1, t2, t3
      |ORDER BY support DESC, n_occ DESC, t1, t2, t3
      |LIMIT 20""".stripMargin

  // x248: x47's closure + the pool/pair md5 hashes — both engine-identical
  // integer parses (x104's precedent); the per-anchor rank is a window
  // over the ≤64-row pool frame.
  val x248: String =
    s"""WITH $componentCtes,
      |pool AS (
      |  SELECT doc_id AS neg_id, component AS neg_comp
      |  FROM (SELECT doc_id, component,
      |               ('0x' || substring(md5('pool|' || CAST(doc_id AS VARCHAR)),
      |                  1, 8))::BIGINT AS ph
      |        FROM r)
      |  ORDER BY ph, doc_id LIMIT 64),
      |cand AS (
      |  SELECT a.doc_id, p.neg_id,
      |         ('0x' || substring(md5('neg|' || CAST(a.doc_id AS VARCHAR)
      |            || '|' || CAST(p.neg_id AS VARCHAR)), 1, 8))::BIGINT AS pairh
      |  FROM r a, pool p
      |  WHERE a.doc_id % 50 = 0 AND a.component <> p.neg_comp
      |    AND a.doc_id <> p.neg_id),
      |rk AS (SELECT doc_id, neg_id,
      |              row_number() OVER (PARTITION BY doc_id
      |                                 ORDER BY pairh, neg_id) AS rank
      |       FROM cand)
      |SELECT doc_id, CAST(rank AS BIGINT) AS rank, neg_id
      |FROM rk WHERE rank <= 5
      |ORDER BY doc_id, rank""".stripMargin

  // x249: x100's element-indexing form; per-element round6 -> DECIMAL sums
  // make the float reduction order-independent; one division round6'd.
  val x249: String =
    """WITH s AS (
      |  SELECT CAST(vec_id AS BIGINT) // 10 AS gid, CAST(i.i AS INT) AS pos,
      |         CAST(floor(CAST(embedding[i.i] AS DOUBLE) * 1e6 + 0.5)
      |           / 1e6 AS DECIMAL(18,6)) AS v6
      |  FROM embeddings, range(1, 65) i(i))
      |SELECT gid, pos, CAST(count(*) AS BIGINT) AS n_chunks,
      |       floor(CAST(sum(v6) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS pooled
      |FROM s GROUP BY gid, pos ORDER BY gid, pos""".stripMargin

  // x250: all KN counts are bigram-TYPE aggregates (exact ints); the
  // probability chain is mirrored token-for-token (left-assoc divisions),
  // per-bigram round6 -> DECIMAL sum -> mean round6 (x87's reduction).
  val x250: String =
    """WITH bg0 AS (
      |  SELECT doc_id,
      |         unnest(range(1, greatest(len(string_split(text, ' ')), 1))) AS i,
      |         string_split(text, ' ') AS toks
      |  FROM documents WHERE text IS NOT NULL),
      |bg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM bg0),
      |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
      |       FROM bg GROUP BY w1, w2),
      |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
      |              CAST(count(*) AS BIGINT) AS n1p
      |       FROM c2 GROUP BY w1),
      |cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS nc FROM c2 GROUP BY w2),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM c2),
      |p AS (
      |  SELECT bg.doc_id,
      |         CAST(floor(((CAST(c2.c2 AS DOUBLE) - 0.75) / CAST(c1.c1 AS DOUBLE)
      |                + 0.75 * CAST(c1.n1p AS DOUBLE) / CAST(c1.c1 AS DOUBLE)
      |                  * (CAST(cont.nc AS DOUBLE) / CAST(nt AS DOUBLE)))
      |               * 1000000 + 0.5) / 1000000 AS DECIMAL(28,6)) AS p6
      |  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
      |       JOIN cont USING (w2), tot)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |       floor(CAST(sum(p6) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS kn_score
      |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // x263: the oracle MAY use the global rank window (fixture scale); the
  // Spark side must not (RangeRank, third consumer); target ranks are
  // pure integer ceil-division.
  val x263: String =
    """WITH d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS x
      |           FROM documents WHERE n_chars IS NOT NULL),
      |r AS (SELECT x, row_number() OVER (ORDER BY x, doc_id) AS r FROM d),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
      |q AS (SELECT * FROM (VALUES ('p50', 1, 2), ('p90', 9, 10),
      |                            ('p99', 99, 100), ('p999', 999, 1000))
      |      t(ql, num, den)),
      |tq AS (SELECT ql, (n.n * num + den - 1) // den AS t FROM q, n)
      |SELECT tq.ql AS quantile, CAST(tq.t AS BIGINT) AS target_rank,
      |       r.x AS value
      |FROM tq JOIN r ON r.r = tq.t
      |ORDER BY quantile""".stripMargin

  // x264: age in exact epoch-µs against the corpus max; per-row exp on
  // engine-identical doubles, round6 -> DECIMAL sum (x101's rule).
  val x264: String =
    """WITH e AS (SELECT event_type, epoch_us(ts) AS t
      |           FROM events WHERE event_type IS NOT NULL),
      |mx AS (SELECT max(t) AS mx FROM e),
      |w AS (SELECT event_type,
      |             CAST(floor(exp(CAST(t - mx AS DOUBLE) / 2592000000000.0)
      |                  * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS w
      |      FROM e, mx)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(w) AS DOUBLE) AS decayed_mass,
      |       floor(CAST(sum(w) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS mean_freshness
      |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin

  // x260: the 5-round BPE loop unrolled — each stage parses the
  // delimiter-wrapped unit strings back, counts weighted adjacent pairs,
  // argmaxes under the (n desc, pair asc) total order, and applies the
  // merge with the SAME left-to-right non-overlapping replace() the
  // Spark side uses.
  val x260: String = {
    def stage(k: Int): String = {
      val prev = if (k == 1) "s0" else s"s${k - 1}"
      s"""u$k AS (SELECT c, string_split(substring(s, 2, length(s) - 2), '..') AS us
        |       FROM $prev),
        |p$k AS (SELECT ua, ub, CAST(sum(c) AS BIGINT) AS n FROM (
        |         SELECT c, us[i] AS ua, us[i + 1] AS ub
        |         FROM (SELECT c, us, unnest(range(1, greatest(len(us), 1))) AS i
        |               FROM u$k))
        |       GROUP BY ua, ub),
        |t$k AS (SELECT ua, ub, n FROM p$k ORDER BY n DESC, ua, ub LIMIT 1),
        |s$k AS (SELECT replace($prev.s, '.' || t$k.ua || '..' || t$k.ub || '.',
        |                       '.' || t$k.ua || t$k.ub || '.') AS s, $prev.c
        |       FROM $prev, t$k)""".stripMargin
    }
    s"""WITH t0 AS (SELECT unnest(string_split(lower(text), ' ')) AS w0
      |            FROM documents WHERE text IS NOT NULL),
      |w AS (SELECT wd, CAST(count(*) AS BIGINT) AS c FROM (
      |        SELECT regexp_replace(w0, '[^a-z0-9]', '', 'g') AS wd FROM t0)
      |      WHERE length(wd) > 0 GROUP BY wd),
      |s0 AS (SELECT array_to_string(list_transform(range(1, length(wd) + 1),
      |                i -> '.' || wd[i] || '.'), '') AS s, c
      |       FROM w),
      |${stage(1)},
      |${stage(2)},
      |${stage(3)},
      |${stage(4)},
      |${stage(5)}
      |SELECT * FROM (
      |  SELECT CAST(1 AS INTEGER) AS merge_idx, ua AS unit_a, ub AS unit_b,
      |         n AS pair_count FROM t1
      |  UNION ALL SELECT 2, ua, ub, n FROM t2
      |  UNION ALL SELECT 3, ua, ub, n FROM t3
      |  UNION ALL SELECT 4, ua, ub, n FROM t4
      |  UNION ALL SELECT 5, ua, ub, n FROM t5)
      |ORDER BY merge_idx""".stripMargin
  }

  // x261: x104's component-split hash + the 4-gram slice comprehension;
  // coverage is one exact-int ratio per non-train split.
  val x261: String =
    s"""WITH $componentCtes,
      |h0 AS (SELECT doc_id,
      |              ('0x' || substring(md5('split|' || CAST(component AS VARCHAR)),
      |                 1, 8))::BIGINT % 10 AS hv
      |       FROM r),
      |h AS (SELECT doc_id, CASE WHEN hv <= 7 THEN 'train'
      |                          WHEN hv = 8 THEN 'val'
      |                          ELSE 'test' END AS split
      |      FROM h0),
      |g0 AS (SELECT doc_id,
      |              unnest(CASE WHEN len(toks) < 4 THEN []::VARCHAR[]
      |                     ELSE list_distinct([array_to_string(toks[i:i+3], ' ')
      |                          for i in range(1, len(toks) - 2)]) END) AS g
      |       FROM (SELECT doc_id, string_split(text, ' ') AS toks
      |             FROM documents WHERE text IS NOT NULL)),
      |v AS (SELECT DISTINCT h.split, g0.g FROM g0 JOIN h USING (doc_id)),
      |tr AS (SELECT g FROM v WHERE split = 'train')
      |SELECT v.split, CAST(count(*) AS BIGINT) AS n_distinct,
      |       CAST(sum(CASE WHEN tr.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_covered,
      |       floor(CAST(sum(CASE WHEN tr.g IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |             / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS coverage
      |FROM v LEFT JOIN tr USING (g)
      |WHERE v.split <> 'train'
      |GROUP BY v.split ORDER BY v.split""".stripMargin

  // x256: per-row list arithmetic only — the 5-gram slice form mirrors
  // x129's shingle comprehension at width 5.
  val x256: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
      |           FROM documents WHERE text IS NOT NULL),
      |g AS (SELECT doc_id,
      |             [array_to_string(toks[i:i+4], ' ')
      |              for i in range(1, len(toks) - 3)] AS gs
      |      FROM t WHERE len(toks) >= 5)
      |SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_5grams,
      |       CAST(len(list_distinct(gs)) AS BIGINT) AS n_distinct,
      |       floor((1.0 - CAST(len(list_distinct(gs)) AS DOUBLE)
      |              / CAST(len(gs) AS DOUBLE)) * 1000000 + 0.5)
      |         / 1000000 AS rep_ratio
      |FROM g ORDER BY doc_id""".stripMargin

  // x257: x11's dot/round idiom per truncation width; recall counts are
  // exact integers over the two 5-row top frames.
  val x257: String = {
    def top(d: Int, name: String): String =
      s"""$name AS (SELECT vec_id FROM (
        |    SELECT e.vec_id,
        |           round(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)) /
        |             (sqrt(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)))
        |              * sqrt(sum(CAST(q.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)))), 6) AS cosine
        |    FROM embeddings e, q, range(1, ${d + 1}) i(i)
        |    WHERE e.vec_id <> 0
        |    GROUP BY e.vec_id)
        |  ORDER BY cosine DESC, vec_id LIMIT 5)""".stripMargin
    def row(d: Int, name: String): String =
      s"""SELECT CAST($d AS BIGINT) AS trunc_dim,
        |       CAST((SELECT count(*) FROM $name JOIN top64 USING (vec_id)) AS BIGINT) AS n_hits,
        |       floor(CAST((SELECT count(*) FROM $name JOIN top64 USING (vec_id)) AS DOUBLE)
        |             / 5.0 * 1000000 + 0.5) / 1000000 AS recall5""".stripMargin
    s"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
      |${top(64, "top64")},
      |${top(32, "top32")},
      |${top(16, "top16")},
      |${top(8, "top8")}
      |SELECT * FROM (
      |${row(32, "top32")}
      |UNION ALL
      |${row(16, "top16")}
      |UNION ALL
      |${row(8, "top8")})
      |ORDER BY trunc_dim""".stripMargin
  }

  // x258: x16's quality CTEs verbatim (shared machinery, the x89 rule);
  // q8 recovers the 1e-8-floored score as an exact integer; the EG step
  // is one rounded exp per source + a DECIMAL normalization sum.
  val x258: String =
    """WITH t AS (
      |  SELECT doc_id, length(replace(text, ' ', '')) AS n_alpha FROM documents),
      |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |st AS (
      |  SELECT doc_id, count(*) AS n_tokens,
      |         sum(CASE WHEN token IN ('the', 'a', 'of', 'to', 'and') THEN 1 ELSE 0 END) AS n_stop
      |  FROM tok GROUP BY doc_id),
      |q AS (
      |  SELECT s.doc_id,
      |         CAST(floor((0.4 * least(CAST(s.n_tokens AS DOUBLE), 50.0) / 50.0
      |             + 0.3 * (1.0 - CAST(s.n_stop AS DOUBLE) / s.n_tokens)
      |             + 0.3 * least(CAST(t.n_alpha AS DOUBLE) / s.n_tokens, 10.0) / 10.0)
      |           * 100000000 + 0.5) AS BIGINT) AS q8
      |  FROM st s JOIN t ON s.doc_id = t.doc_id),
      |per AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n,
      |               CAST(sum(q.q8) AS BIGINT) AS sq
      |        FROM documents d JOIN q USING (doc_id) GROUP BY d.source),
      |l AS (SELECT source, n,
      |             floor((1.0 - CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)
      |                    / 100000000.0) * 1000000 + 0.5) / 1000000 AS loss
      |      FROM per),
      |e AS (SELECT source, n, loss,
      |             CAST(floor(exp(loss) * 1000000 + 0.5) / 1000000
      |                  AS DECIMAL(18,6)) AS e6
      |      FROM l),
      |s AS (SELECT sum(e6) AS se FROM e)
      |SELECT source, n, loss,
      |       floor(CAST(e6 AS DOUBLE) / CAST(se AS DOUBLE) * 1000000 + 0.5)
      |         / 1000000 AS weight
      |FROM e, s ORDER BY source""".stripMargin

  // x259: both orientations of every backbone edge (symmetric estimator);
  // all moments exact BIGINTs, ONE division round6'd.
  val x259: String =
    """WITH t AS (SELECT string_split(text, ' ') AS toks
      |           FROM documents WHERE text IS NOT NULL),
      |pr0 AS (SELECT array_to_string(toks[i:i+2], ' ') AS s1,
      |               array_to_string(toks[i+1:i+3], ' ') AS s2
      |        FROM (SELECT toks,
      |                unnest(range(1, greatest(len(toks) - 2, 1))) AS i FROM t)),
      |pr AS (SELECT least(s1, s2) AS u, greatest(s1, s2) AS v FROM pr0),
      |e0 AS (SELECT u, v FROM pr WHERE u <> v
      |       GROUP BY u, v HAVING count(*) >= 2),
      |ed AS (SELECT u AS a, v AS b FROM e0
      |       UNION ALL SELECT v AS a, u AS b FROM e0),
      |dg AS (SELECT a, CAST(count(*) AS BIGINT) AS d FROM ed GROUP BY a),
      |j AS (SELECT dx.d AS dx, dy.d AS dy
      |      FROM ed JOIN dg dx ON ed.a = dx.a JOIN dg dy ON ed.b = dy.a),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS m,
      |             CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
      |             CAST(sum(dx * dy) AS BIGINT) AS sxy,
      |             CAST(sum(dx * dx) AS BIGINT) AS sxx
      |      FROM j)
      |SELECT m AS n_directed_edges,
      |       CASE WHEN m * sxx - sx * sx = 0 THEN NULL
      |            ELSE floor(CAST(m * sxy - sx * sy AS DOUBLE)
      |                  / CAST(m * sxx - sx * sx AS DOUBLE) * 1000000 + 0.5)
      |                  / 1000000 END AS assortativity
      |FROM m""".stripMargin

  // x251: x129's shingle CTE; prefix indices from integer fractions of
  // max(doc_id); running sums over the 5-row prefix frame; x239's
  // micro-int OLS chain for beta.
  val x251: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
      |           FROM documents WHERE text IS NOT NULL),
      |tok AS (
      |  SELECT DISTINCT doc_id,
      |         unnest(CASE WHEN len(toks) < 3
      |                THEN [array_to_string(toks, ' ')]
      |                ELSE [array_to_string(toks[i:i+2], ' ')
      |                      for i in range(1, len(toks) - 1)] END) AS w
      |  FROM t),
      |mm AS (SELECT max(doc_id) AS m FROM documents),
      |occ AS (
      |  SELECT CASE WHEN doc_id <= m // 16 THEN 1 WHEN doc_id <= m // 8 THEN 2
      |              WHEN doc_id <= m // 4 THEN 3 WHEN doc_id <= m // 2 THEN 4
      |              ELSE 5 END AS p, CAST(count(*) AS BIGINT) AS dn
      |  FROM tok, mm GROUP BY 1),
      |fv AS (SELECT w, min(doc_id) AS fd FROM tok GROUP BY w),
      |voc AS (
      |  SELECT CASE WHEN fd <= m // 16 THEN 1 WHEN fd <= m // 8 THEN 2
      |              WHEN fd <= m // 4 THEN 3 WHEN fd <= m // 2 THEN 4
      |              ELSE 5 END AS p, CAST(count(*) AS BIGINT) AS dv
      |  FROM fv, mm GROUP BY 1),
      |sp AS (
      |  SELECT p, coalesce(dn, 0) AS dn, coalesce(dv, 0) AS dv
      |  FROM occ FULL JOIN voc USING (p)),
      |cs AS (
      |  SELECT p,
      |         CAST(sum(dn) OVER (ORDER BY p ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_shingles,
      |         CAST(sum(dv) OVER (ORDER BY p ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab
      |  FROM sp),
      |pt AS (SELECT p, n_shingles, vocab,
      |              CAST(floor(ln(CAST(n_shingles AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS x6,
      |              CAST(floor(ln(CAST(vocab AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS y6
      |       FROM cs),
      |mo AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(x6) AS BIGINT) AS sx,
      |              CAST(sum(y6) AS BIGINT) AS sy,
      |              CAST(sum(x6 * y6) AS BIGINT) AS sxy,
      |              CAST(sum(x6 * x6) AS BIGINT) AS sxx
      |       FROM pt)
      |SELECT pt.p AS prefix_idx, pt.n_shingles, pt.vocab,
      |       floor(CAST(k * sxy - sx * sy AS DOUBLE)
      |             / CAST(k * sxx - sx * sx AS DOUBLE) * 1000000 + 0.5)
      |         / 1000000 AS beta
      |FROM pt, mo ORDER BY prefix_idx""".stripMargin

  // x252: every dHash bit re-derived from the PNG generator formulas
  // alone (x235's contract) — the pinned value crosses the full
  // encode -> ImageIO decode -> compare chain on the Spark side.
  val x252: String =
    """WITH p AS (SELECT range AS img_id FROM range(0, 24)),
      |d AS (SELECT img_id, 8 + img_id % 5 AS w, 6 + img_id % 3 AS h FROM p),
      |px AS (SELECT d.img_id, d.w, d.h, x.range AS x, y.range AS y
      |       FROM d JOIN range(0, 12) x ON x.range < d.w - 1
      |              JOIN range(0, 9) y ON y.range < d.h),
      |b AS (SELECT img_id, w, h, y * (w - 1) + x AS idx,
      |             CASE WHEN ((x+1)*7 + img_id*13 + 3) % 256
      |                       + (y*11 + img_id*5 + 7) % 256
      |                       + ((x+1)+y+img_id*3) % 256
      |                     > (x*7 + img_id*13 + 3) % 256
      |                       + (y*11 + img_id*5 + 7) % 256
      |                       + (x+y+img_id*3) % 256
      |                  THEN 1 ELSE 0 END AS bit
      |      FROM px)
      |SELECT img_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |       CAST(sum(bit) AS BIGINT) AS n_ones,
      |       CAST(sum(CASE WHEN bit = 1 AND idx <= 62
      |                     THEN CAST(1 AS BIGINT) << idx ELSE 0 END)
      |            AS BIGINT) AS dhash63
      |FROM b GROUP BY img_id, w, h ORDER BY img_id""".stripMargin

  // x253: z² enters as CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) — the
  // IEEE product, NOT the decimal literal 3.8416 (DuckDB decimal
  // arithmetic would differ in the last ulp); the center/half chain is
  // mirrored token-for-token.
  val x253: String =
    """WITH d AS (SELECT doc_id, source, md5(text) AS h
      |           FROM documents WHERE text IS NOT NULL),
      |dup AS (SELECT h FROM d GROUP BY h HAVING count(*) > 1),
      |f AS (SELECT d.doc_id, d.source,
      |             CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END AS fl
      |      FROM d LEFT JOIN dup USING (h)),
      |per AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
      |               CAST(sum(fl) AS BIGINT) AS x
      |        FROM f GROUP BY source),
      |c AS (SELECT source, n, x,
      |             CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS p,
      |             CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) AS z2,
      |             CAST(n AS DOUBLE) AS nd
      |      FROM per),
      |w AS (SELECT source, n, x, p,
      |             (p + z2 / (2.0 * nd)) / (1.0 + z2 / nd) AS center,
      |             CAST(1.96 AS DOUBLE) / (1.0 + z2 / nd)
      |               * sqrt(p * (1.0 - p) / nd + z2 / (4.0 * nd * nd)) AS half
      |      FROM c)
      |SELECT source, n, x AS n_dup,
      |       floor(p * 1000000 + 0.5) / 1000000 AS p_hat,
      |       floor((center - half) * 1000000 + 0.5) / 1000000 AS ci_lo,
      |       floor((center + half) * 1000000 + 0.5) / 1000000 AS ci_hi
      |FROM w ORDER BY source""".stripMargin

  // x254: exact top-101 under (x desc, doc_id); each term ONE ln of an
  // exact integer ratio, round6 -> DECIMAL sum; the x_{k+1} row's own
  // ln(1)=0 term is summed in both engines (harmless, identical).
  val x254: String =
    """WITH top AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS x
      |             FROM documents
      |             WHERE n_chars IS NOT NULL AND n_chars > 0
      |             ORDER BY x DESC, doc_id LIMIT 101),
      |mm AS (SELECT min(x) AS xk1, count(*) AS m FROM top),
      |t AS (SELECT mm.xk1,
      |             CAST(floor(ln(CAST(top.x AS DOUBLE) / CAST(mm.xk1 AS DOUBLE))
      |                  * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS t
      |      FROM top, mm WHERE mm.m = 101)
      |SELECT CAST(100 AS BIGINT) AS k, xk1 AS x_k1,
      |       CASE WHEN sum(t) <> 0
      |            THEN floor(100.0 / CAST(sum(t) AS DOUBLE) * 1000000 + 0.5)
      |                 / 1000000 END AS alpha
      |FROM t GROUP BY xk1""".stripMargin

  // x255: the oracle MAY use the global rank window (DuckDB, fixture
  // scale); the Spark side must not (RangeRank) — the argmax is
  // integer-exact in both engines.
  val x255: String =
    """WITH d AS (SELECT doc_id,
      |                  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
      |           FROM documents),
      |r AS (SELECT h, row_number() OVER (ORDER BY h, doc_id) AS r FROM d),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
      |m AS (SELECT n.n,
      |             max(greatest(r.r * 4294967296 - n.n * r.h,
      |                          n.n * r.h - (r.r - 1) * 4294967296)) AS dmax
      |      FROM r, n GROUP BY n.n)
      |SELECT n,
      |       floor(CAST(dmax AS DOUBLE) / (CAST(n AS DOUBLE) * 4294967296.0)
      |             * 1000000 + 0.5) / 1000000 AS d,
      |       floor(CAST(dmax AS DOUBLE) / (CAST(n AS DOUBLE) * 4294967296.0)
      |             * sqrt(CAST(n AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS d_sqrt_n
      |FROM m""".stripMargin

  // x246: u and the chain up to ln's argument are EXACT in IEEE (52-bit
  // int + 1/2 over a power-of-two divisor); ln ulp divergence absorbed by
  // round6 (x101/x133 precedent); 1.0 must be CAST to DOUBLE (DuckDB
  // decimal literal would fail the dtype gate).
  val x246: String =
    """WITH g AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(least(coalesce(n_chars, 0), 1000)) AS BIGINT) AS cs
      |  FROM documents GROUP BY source),
      |u AS (SELECT source, n, cs,
      |        (('0x' || substring(md5('dp1|' || source), 1, 13))::BIGINT + 0.5)
      |          / 4503599627370496.0 AS u1,
      |        (('0x' || substring(md5('dp2|' || source), 1, 13))::BIGINT + 0.5)
      |          / 4503599627370496.0 AS u2
      |      FROM g)
      |SELECT source, CAST(1.0 AS DOUBLE) AS epsilon,
      |       floor((CAST(n AS DOUBLE)
      |              + (-1.0) * sign(u1 - 0.5) * ln(1.0 - 2.0 * abs(u1 - 0.5)))
      |             * 1000000 + 0.5) / 1000000 AS n_released,
      |       floor((CAST(cs AS DOUBLE)
      |              + (-1000.0) * sign(u2 - 0.5) * ln(1.0 - 2.0 * abs(u2 - 0.5)))
      |             * 1000000 + 0.5) / 1000000 AS chars_released
      |FROM u ORDER BY source""".stripMargin

  // x235: every pixel channel re-derived from the generator formulas over
  // a range×range grid — the real PNG decode must recover them exactly.
  val x235: String =
    """WITH p AS (SELECT range AS img_id FROM range(0, 24)),
      |d AS (SELECT img_id, 8 + img_id % 5 AS w, 6 + img_id % 3 AS h FROM p),
      |px AS (SELECT d.img_id, d.w, d.h, x.range AS x, y.range AS y
      |       FROM d JOIN range(0, 13) x ON x.range < d.w
      |              JOIN range(0, 9) y ON y.range < d.h),
      |s AS (SELECT img_id, w, h,
      |             CAST(sum((x * 7 + img_id * 13 + 3) % 256) AS BIGINT) AS sum_r,
      |             CAST(sum((y * 11 + img_id * 5 + 7) % 256) AS BIGINT) AS sum_g,
      |             CAST(sum((x + y + img_id * 3) % 256) AS BIGINT) AS sum_b
      |      FROM px GROUP BY 1, 2, 3)
      |SELECT img_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |       sum_r, sum_g, sum_b
      |FROM s ORDER BY img_id""".stripMargin

  // x236: Σ sample and Σ|sample| from the closed form — a PCM byte-order
  // or header bug moves an exact integer.
  val x236: String =
    """WITH p AS (SELECT range AS wav_id FROM range(0, 24)),
      |d AS (SELECT wav_id, 400 + (wav_id * 7) % 100 AS n FROM p),
      |sm AS (SELECT d.wav_id, d.n,
      |              (i.range * 13 + d.wav_id * 7) % 2001 - 1000 AS v
      |       FROM d JOIN range(0, 500) i ON i.range < d.n)
      |SELECT wav_id, CAST(max(n) AS BIGINT) AS n_samples,
      |       CAST(sum(v) AS BIGINT) AS sum_s,
      |       CAST(sum(abs(v)) AS BIGINT) AS sum_abs_s
      |FROM sm GROUP BY wav_id ORDER BY wav_id""".stripMargin

  // x232: both DEFAULT paths reconstructed — generation 1 reads the
  // insert-time status default AND the exists-default tier backfill.
  val x232: String =
    """WITH g1 AS (SELECT l_returnflag AS flag,
      |                   CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty,
      |                   'unreviewed' AS status, 'bronze' AS tier
      |            FROM lineitem
      |            WHERE l_quantity IS NOT NULL AND l_orderkey % 2 = 0),
      |g2 AS (SELECT l_returnflag, CAST(floor(l_quantity + 0.5) AS BIGINT),
      |              'unreviewed', 'silver'
      |       FROM lineitem
      |       WHERE l_quantity IS NOT NULL AND l_orderkey % 2 = 1),
      |u AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2)
      |SELECT flag, status, tier, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(qty) AS BIGINT) AS sum_qty
      |FROM u GROUP BY flag, status, tier
      |ORDER BY flag, status, tier""".stripMargin

  // x233: documents IS the larger view on every fixture — a routing flip
  // on the Spark side breaks loudly (nation has no source/n_chars).
  val x233: String =
    """SELECT source AS grp, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE n_chars IS NOT NULL
      |GROUP BY source ORDER BY grp""".stripMargin

  // x234: the branch the fixtures take (>1000 rows ⇒ fine granularity)
  // and the loop's closed form (2¹⁰ = 1024) inlined — scripting control
  // flow must be value-identical to the straight-line query.
  val x234: String =
    """WITH qm AS (
      |  SELECT floor(CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS DOUBLE)
      |               / count(*) * 1000000 + 0.5) / 1000000 AS qmean
      |  FROM lineitem WHERE l_quantity IS NOT NULL)
      |SELECT l_returnflag AS flag, l_linestatus AS status,
      |       CAST(count(*) AS BIGINT) AS n_above,
      |       CAST(sum(CASE WHEN CAST(floor(l_extendedprice + 0.5) AS BIGINT) > 1024
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_above_lim
      |FROM lineitem, qm
      |WHERE l_quantity IS NOT NULL AND l_quantity > qmean
      |GROUP BY 1, 2 ORDER BY flag, status""".stripMargin

  // x230: raw-table joins — collected statistics must never change
  // answers, only plans (the plan side is require-asserted in the query).
  val x230: String =
    """WITH d AS (SELECT n.n_nationkey AS nationkey, n.n_name AS nation,
      |                  r.r_name AS region
      |           FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey)
      |SELECT d.region, CAST(count(*) AS BIGINT) AS n_customers,
      |       CAST(count(DISTINCT d.nation) AS BIGINT) AS n_nations
      |FROM customer c JOIN d ON c.c_nationkey = d.nationkey
      |GROUP BY d.region ORDER BY d.region""".stripMargin

  // x231: both aggregates recomputed from the raw table — caching must
  // never change answers (the InMemoryTableScan is require-asserted).
  val x231: String =
    """WITH b AS (SELECT l_returnflag AS flag,
      |                  CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty,
      |                  CAST(floor(l_discount * 1000000 + 0.5) AS BIGINT) AS disc_micro
      |           FROM lineitem
      |           WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL),
      |f AS (SELECT flag, CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(qty) AS BIGINT) AS sum_qty
      |      FROM b GROUP BY flag),
      |t AS (SELECT CAST(sum(disc_micro) AS BIGINT) AS sum_disc_micro,
      |             CAST(count(DISTINCT qty) AS BIGINT) AS n_distinct_qty
      |      FROM b)
      |SELECT f.flag, f.n, f.sum_qty, t.sum_disc_micro, t.n_distinct_qty
      |FROM f CROSS JOIN t ORDER BY f.flag""".stripMargin

  // x228: the engine's merged half-open intervals computed relationally —
  // running max of (t + gap) per user, new session when t >= it.
  val x228: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id,
      |                  CASE WHEN event_type = 'view' THEN 2700000000
      |                       WHEN event_type = 'click' THEN 1800000000
      |                       ELSE 900000000 END AS gap
      |           FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |             AND event_type IS NOT NULL),
      |o AS (SELECT user_id, t,
      |             max(t + gap) OVER (PARTITION BY user_id ORDER BY t, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end,
      |             event_id
      |      FROM e),
      |s AS (SELECT user_id,
      |             CAST(sum(CASE WHEN prev_end IS NULL OR t >= prev_end
      |                           THEN 1 ELSE 0 END)
      |               OVER (PARTITION BY user_id ORDER BY t, event_id
      |                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      |      FROM o),
      |c AS (SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n
      |      FROM s GROUP BY 1, 2)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
      |       CAST(max(n) AS BIGINT) AS max_session_events,
      |       CAST(sum(n) AS BIGINT) AS n_events
      |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin

  // x229: all three shorthands spelled out — GROUP BY ALL binds the
  // non-aggregate items, * EXCEPT drops by exclusion, ORDER BY ALL
  // orders by every output column left to right.
  val x229: String =
    """SELECT l_returnflag AS flag, l_linestatus AS status,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS qty
      |FROM lineitem WHERE l_quantity IS NOT NULL
      |GROUP BY 1, 2
      |ORDER BY 1, 2, 3, 4""".stripMargin

  // x225: whole-corpus per-user aggregate restricted to stream-active
  // users — seeded state + streamed fold must reconstruct it exactly;
  // n_boot pins that the initial-state channel actually contributed.
  val x225: String =
    """WITH e AS (SELECT user_id, event_id,
      |                  CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v
      |           FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      |su AS (SELECT DISTINCT user_id FROM e WHERE event_id % 4 = 0)
      |SELECT e.user_id, CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(v) AS BIGINT) AS sum_micro,
      |       CAST(max(event_id) AS BIGINT) AS max_event_id,
      |       CAST(sum(CASE WHEN event_id % 4 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_boot
      |FROM e JOIN su USING (user_id)
      |GROUP BY e.user_id ORDER BY e.user_id""".stripMargin

  // x221: the ANSI form of the pipe query — the hash match pins the |>
  // surface as pure syntax. (Quantities are integral-valued doubles, so
  // CAST AS BIGINT agrees between the engines' truncate-vs-round rules.)
  val x221: String =
    """SELECT l_returnflag AS flag, l_linestatus AS status,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM lineitem
      |WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
      |GROUP BY 1, 2 HAVING count(*) >= 10
      |ORDER BY flag, status""".stripMargin

  // x222: UTF8_LCASE grouping ≡ lowercase grouping; min(raw) is the
  // deterministic representative (the collated group's own pick is
  // first-seen).
  val x222: String =
    """WITH s AS (SELECT event_id,
      |                  CASE WHEN event_id % 2 = 0 THEN upper(event_type)
      |                       ELSE event_type END AS s
      |           FROM events WHERE event_type IS NOT NULL)
      |SELECT min(s) AS type_min, CAST(count(*) AS BIGINT) AS n,
      |       CAST(min(event_id) AS BIGINT) AS first_id
      |FROM s GROUP BY lower(s) ORDER BY type_min""".stripMargin

  // x223: the variable's defining subquery inlined — variable indirection
  // must be value-identical to inlining.
  val x223: String =
    """WITH qm AS (
      |  SELECT floor(CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS DOUBLE)
      |               / count(*) * 1000000 + 0.5) / 1000000 AS qmean
      |  FROM lineitem WHERE l_quantity IS NOT NULL)
      |SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n_above,
      |       CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS qty_above
      |FROM lineitem, qm
      |WHERE l_quantity IS NOT NULL AND l_quantity > qmean
      |GROUP BY l_returnflag ORDER BY flag""".stripMargin

  // x224: one aggregate × three strategy labels — execution strategy must
  // never change answers.
  val x224: String =
    """WITH j AS (SELECT n.n_name AS nation, CAST(count(*) AS BIGINT) AS n_customers,
      |                  CAST(sum(CAST(c.c_custkey AS BIGINT)) AS BIGINT) AS key_sum
      |           FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      |           GROUP BY n.n_name),
      |s AS (SELECT * FROM (VALUES ('broadcast'),('merge'),('shuffle_hash')) v(strategy))
      |SELECT s.strategy, j.nation, j.n_customers, j.key_sum
      |FROM s CROSS JOIN j ORDER BY strategy, nation""".stripMargin

  // x217: k-spine left-joins the QI-class table; exact counts, one ratio.
  val x217: String =
    """WITH d AS (SELECT lang, source, n_chars FROM documents
      |           WHERE lang IS NOT NULL AND source IS NOT NULL
      |             AND n_chars IS NOT NULL),
      |cls AS (SELECT lang, source, n_chars // 100 AS len_bin,
      |               CAST(count(*) AS BIGINT) AS s
      |        FROM d GROUP BY 1, 2, 3),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM d),
      |ks AS (SELECT CAST(k AS BIGINT) AS k FROM (VALUES (2),(5),(10),(20)) v(k))
      |SELECT ks.k,
      |       CAST(count(cls.s) AS BIGINT) AS n_small_classes,
      |       CAST(coalesce(sum(cls.s), 0) AS BIGINT) AS n_risk_docs,
      |       floor(CAST(coalesce(sum(cls.s), 0) AS DOUBLE) /
      |             CAST(n_total AS DOUBLE) * 1000000 + 0.5) / 1000000 AS risk_frac
      |FROM ks CROSS JOIN tot LEFT JOIN cls ON cls.s < ks.k
      |GROUP BY ks.k, n_total ORDER BY ks.k""".stripMargin

  // x218: Σrx is tie-order-invariant, so the doubled-rank sum computes
  // the tie-averaged Gini exactly; one float chain at the edge.
  val x218: String =
    """WITH e AS (SELECT event_type, CAST(floor(value + 0.5) AS BIGINT) AS m
      |           FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
      |vt AS (SELECT event_type, m, CAST(count(*) AS BIGINT) AS c
      |       FROM e GROUP BY 1, 2),
      |r AS (SELECT event_type, m, c,
      |             CAST(sum(c) OVER (PARTITION BY event_type ORDER BY m
      |                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |      FROM vt),
      |g AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n,
      |             CAST(sum(c * m) AS BIGINT) AS sx,
      |             CAST(sum(m * c * (2 * (cum - c + 1) + c - 1)) AS BIGINT) AS sr2
      |      FROM r GROUP BY 1)
      |SELECT event_type, n,
      |       floor(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS mean_units,
      |       floor((CAST(sr2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))
      |              - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE))
      |             * 1000000 + 0.5) / 1000000 AS gini
      |FROM g ORDER BY event_type""".stripMargin

  // x219: zipped unnests build (w1, bigram) in one pass; x101's per-term
  // round6 + DECIMAL(28,6) entropy discipline for both distributions.
  val x219: String =
    """WITH t AS (SELECT source, string_split(text, ' ') AS toks
      |           FROM documents WHERE text IS NOT NULL),
      |bg AS (SELECT source,
      |              unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
      |              unnest(list_transform(range(1, len(toks)),
      |                i -> concat_ws(' ', toks[i], toks[i + 1]))) AS bg
      |       FROM t),
      |c AS (SELECT source, w1, bg, CAST(count(*) AS BIGINT) AS c
      |      FROM bg GROUP BY 1, 2, 3),
      |ct AS (SELECT source, w1, bg, c,
      |              CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS total
      |       FROM c),
      |hb AS (SELECT source, CAST(max(total) AS BIGINT) AS n_bigrams,
      |              floor(CAST(sum(CAST(floor(-(CAST(c AS DOUBLE) / CAST(total AS DOUBLE))
      |                  * log2(CAST(c AS DOUBLE) / CAST(total AS DOUBLE))
      |                  * 1000000 + 0.5) / 1000000 AS DECIMAL(28,6))) AS DOUBLE)
      |                * 1000000 + 0.5) / 1000000 AS h_bigram
      |       FROM ct GROUP BY source),
      |w1c AS (SELECT source, w1, CAST(sum(c) AS BIGINT) AS c,
      |               CAST(max(total) AS BIGINT) AS total
      |        FROM ct GROUP BY 1, 2),
      |hu AS (SELECT source,
      |              floor(CAST(sum(CAST(floor(-(CAST(c AS DOUBLE) / CAST(total AS DOUBLE))
      |                  * log2(CAST(c AS DOUBLE) / CAST(total AS DOUBLE))
      |                  * 1000000 + 0.5) / 1000000 AS DECIMAL(28,6))) AS DOUBLE)
      |                * 1000000 + 0.5) / 1000000 AS h_first
      |       FROM w1c GROUP BY source)
      |SELECT hb.source, n_bigrams, h_bigram, h_first,
      |       floor((h_bigram - h_first) * 1000000 + 0.5) / 1000000 AS h_cond
      |FROM hb JOIN hu USING (source) ORDER BY source""".stripMargin

  // x220: all three rank functions over one named window with a unique
  // order; percent_rank/cume_dist are exact-integer ratios under it.
  val x220: String =
    """WITH b AS (SELECT l_returnflag AS flag, l_extendedprice, l_orderkey,
      |                  l_linenumber
      |           FROM lineitem WHERE l_extendedprice IS NOT NULL),
      |w AS (SELECT flag, l_extendedprice,
      |             ntile(4) OVER win AS q,
      |             percent_rank() OVER win AS pr,
      |             cume_dist() OVER win AS cd
      |      FROM b WINDOW win AS (PARTITION BY flag
      |        ORDER BY l_extendedprice, l_orderkey, l_linenumber))
      |SELECT flag, CAST(q AS BIGINT) AS quartile, CAST(count(*) AS BIGINT) AS n,
      |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
      |         AS sum_price,
      |       min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
      |       floor(max(pr) * 1000000 + 0.5) / 1000000 AS max_pct_rank,
      |       floor(max(cd) * 1000000 + 0.5) / 1000000 AS max_cume_dist
      |FROM w GROUP BY flag, q ORDER BY flag, quartile""".stripMargin

  // x209: identical LATERAL SQL — DuckDB plans the correlated subquery
  // directly; Spark decorrelates to a ranked join. Same rows either way.
  val x209: String =
    """SELECT n.n_name AS nation, t.c_name AS customer, t.c_acctbal AS acctbal
      |FROM nation n,
      |LATERAL (SELECT c_name, c_acctbal FROM customer c
      |         WHERE c.c_nationkey = n.n_nationkey
      |         ORDER BY c_acctbal DESC, c_name LIMIT 2) t
      |ORDER BY nation, acctbal DESC, customer""".stripMargin

  // x210: the Spark side binds :qmin = 40 and ? = 10 through parameter
  // markers; the oracle inlines the literals — the hash match pins that
  // binding is value-identical to substitution.
  val x210: String =
    """WITH hi AS (
      |  SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n_hi
      |  FROM lineitem WHERE l_quantity >= 40 GROUP BY l_returnflag)
      |SELECT h.flag, h.n_hi, CAST(count(*) AS BIGINT) AS n_lo
      |FROM lineitem l JOIN hi h ON l.l_returnflag = h.flag
      |WHERE l.l_quantity <= 10
      |GROUP BY h.flag, h.n_hi
      |ORDER BY h.flag""".stripMargin

  // x211: per-threshold stats derive from one support-gated backbone;
  // integer div for wedges (d(d−1) always even), least() min edge weight
  // for triangle thresholds.
  val x211: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e AS (SELECT a.p AS x, b.p AS y, CAST(count(*) AS BIGINT) AS w
      |      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
      |      GROUP BY 1, 2 HAVING count(*) >= 2),
      |ts AS (SELECT CAST(t AS BIGINT) AS t FROM (VALUES (2),(3),(4),(5)) AS v(t)),
      |et AS (SELECT t, CAST(count(*) AS BIGINT) AS edges
      |       FROM ts JOIN e ON e.w >= ts.t GROUP BY t),
      |nd AS (SELECT t, n, CAST(count(*) AS BIGINT) AS d
      |       FROM ts JOIN (SELECT x AS n, w FROM e UNION ALL SELECT y, w FROM e) u
      |         ON u.w >= ts.t
      |       GROUP BY t, n),
      |nw AS (SELECT t, CAST(count(*) AS BIGINT) AS nodes,
      |              CAST(sum(d * (d - 1) // 2) AS BIGINT) AS wedges
      |       FROM nd GROUP BY t),
      |tri AS (SELECT least(e1.w, e2.w, e3.w) AS mw
      |        FROM e e1 JOIN e e2 ON e1.y = e2.x
      |        JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y),
      |tt AS (SELECT t, CAST(count(*) AS BIGINT) AS triangles
      |       FROM ts JOIN tri ON mw >= ts.t GROUP BY t)
      |SELECT ts.t, coalesce(nodes, 0) AS nodes, coalesce(edges, 0) AS edges,
      |       coalesce(wedges, 0) AS wedges, coalesce(triangles, 0) AS triangles,
      |       CASE WHEN coalesce(wedges, 0) > 0
      |            THEN floor(3.0 * CAST(coalesce(triangles, 0) AS DOUBLE) /
      |                       CAST(wedges AS DOUBLE) * 1000000 + 0.5) / 1000000
      |            ELSE 0.0 END AS gcc
      |FROM ts LEFT JOIN et USING (t) LEFT JOIN nw USING (t) LEFT JOIN tt USING (t)
      |ORDER BY ts.t""".stripMargin

  // x212: (ts_µs, event_id) is a total order (event_id unique), so
  // string_agg ORDER BY and Spark's sorted-struct-array join agree.
  val x212: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
      |         epoch_us(ts) // 86400000000 AS day
      |  FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL),
      |s AS (SELECT user_id, day,
      |             string_agg(event_type, '>' ORDER BY ts_us, event_id) AS template,
      |             CAST(count(*) AS BIGINT) AS n_steps
      |      FROM ev GROUP BY user_id, day),
      |t AS (SELECT template, CAST(count(*) AS BIGINT) AS n_sessions,
      |             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |             CAST(max(n_steps) AS BIGINT) AS n_steps
      |      FROM s GROUP BY template),
      |r AS (SELECT *, row_number() OVER (ORDER BY n_sessions DESC, template) AS rank
      |      FROM t)
      |SELECT CAST(rank AS BIGINT) AS rank, template, n_steps, n_sessions, n_users
      |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin

  // x208: n-scaled deviations (the n² factor cancels in the ratio),
  // exact HUGEINT moments, one divide at the edge.
  val x208: String = {
    val m = (1 to 7).map(k =>
      s"sum(d * d$k) AS num$k, CAST(count(d$k) AS BIGINT) AS np$k").mkString(", ")
    val leads = (1 to 7).map(k =>
      s"lead(d, $k) OVER (ORDER BY day) AS d$k").mkString(", ")
    val rows = (1 to 7).map(k =>
      s"""SELECT CAST($k AS BIGINT) AS lag, np$k AS n_pairs,
         |       floor(CAST(num$k AS DOUBLE) / CAST(den AS DOUBLE)
         |             * 1000000 + 0.5) / 1000000 AS r FROM m""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH day AS (
       |  SELECT ts_us // 86400000000 AS day, CAST(sum(v) AS BIGINT) AS x
       |  FROM (SELECT epoch_us(ts) AS ts_us,
       |               CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v
       |        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL)
       |  GROUP BY 1),
       |g AS (SELECT CAST(count(*) AS BIGINT) AS nd, CAST(sum(x) AS BIGINT) AS sx
       |      FROM day),
       |dev AS (SELECT day, CAST(nd * x - sx AS HUGEINT) AS d FROM day, g),
       |led AS (SELECT d, $leads FROM dev),
       |m AS (SELECT sum(d * d) AS den, $m FROM led)
       |$rows
       |ORDER BY lag""".stripMargin
  }

  // x265: sqrt-weights round6 to DECIMAL then sum exactly (x101); ESS
  // contributions round9 (6 digits would quantize W^2/n to zero for large
  // sources); the two final divisions are float, round6, NULL when the
  // contribution sum quantizes to 0.
  val x265: String =
    """WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n
      |             FROM documents GROUP BY source),
      |r AS (SELECT source, n,
      |             CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000 + 0.5)
      |                  / 1000000 AS DECIMAL(18,6)) AS r6 FROM per),
      |s AS (SELECT CAST(sum(r6) AS DECIMAL(28,6)) AS s,
      |             CAST(sum(n) AS BIGINT) AS nt FROM r),
      |w AS (SELECT source, n, nt,
      |             CAST(floor(CAST(r6 AS DOUBLE) / CAST(s AS DOUBLE)
      |                  * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS w6
      |      FROM r, s),
      |c AS (SELECT source, n, nt, w6,
      |             CAST(floor(CAST(w6 AS DOUBLE) * CAST(w6 AS DOUBLE)
      |                  / CAST(n AS DOUBLE) * 1000000000 + 0.5)
      |                  / 1000000000 AS DECIMAL(18,9)) AS c9 FROM w),
      |g AS (SELECT CAST(sum(w6) AS DECIMAL(28,6)) AS sw,
      |             CAST(sum(c9) AS DECIMAL(28,9)) AS sc FROM c)
      |SELECT source, n AS n_docs, CAST(w6 AS DOUBLE) AS weight,
      |       CASE WHEN sc <> 0 THEN
      |         floor(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
      |               / CAST(sc AS DOUBLE) * 1000000 + 0.5) / 1000000
      |       END AS ess,
      |       CASE WHEN sc <> 0 THEN
      |         floor(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
      |               / CAST(sc AS DOUBLE) / CAST(nt AS DOUBLE)
      |               * 1000000 + 0.5) / 1000000
      |       END AS ess_ratio
      |FROM c, g ORDER BY source""".stripMargin

  // x266: the 2x2 contingency is exact; po/pe/kappa are each ONE division
  // from exact integer products; pe = 1 pins kappa to NULL (mirrored).
  val x266: String =
    """WITH d AS (SELECT CASE WHEN n_chars >= 120 THEN 1 ELSE 0 END AS a,
      |                  CASE WHEN len(string_split(text, ' ')) >= 24
      |                       THEN 1 ELSE 0 END AS b
      |           FROM documents
      |           WHERE text IS NOT NULL AND n_chars IS NOT NULL),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(a * b) AS BIGINT) AS n11,
      |             CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
      |             CAST(sum((1 - a) * b) AS BIGINT) AS n01,
      |             CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
      |      FROM d),
      |p AS (SELECT n, n11, n10, n01, n00,
      |             (n11 + n10) * (n11 + n01)
      |               + (n01 + n00) * (n10 + n00) AS pen
      |      FROM m)
      |SELECT n, n11, n10, n01, n00,
      |       floor(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS po,
      |       floor(CAST(pen AS DOUBLE) / CAST(n * n AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS pe,
      |       CASE WHEN n * n <> pen THEN
      |         floor(CAST(n * (n11 + n00) - pen AS DOUBLE)
      |               / CAST(n * n - pen AS DOUBLE) * 1000000 + 0.5) / 1000000
      |       END AS kappa
      |FROM p""".stripMargin

  // x267: counts exact; the PMI products ride HUGEINT (Spark DECIMAL(38,0))
  // and collapse to ONE ln of the exact integer ratio (x244's rule).
  val x267: String =
    """WITH t AS (SELECT string_split(text, ' ') AS toks
      |           FROM documents WHERE text IS NOT NULL),
      |uc AS (SELECT w, CAST(count(*) AS HUGEINT) AS cw
      |       FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
      |bc AS (SELECT bigram, CAST(count(*) AS HUGEINT) AS cab
      |       FROM (SELECT unnest(list_transform(range(1, len(toks)),
      |                    i -> concat_ws(' ', toks[i], toks[i + 1])))
      |               AS bigram FROM t)
      |       GROUP BY bigram),
      |nu AS (SELECT CAST(sum(cw) AS HUGEINT) AS nu FROM uc),
      |nb AS (SELECT CAST(sum(cab) AS HUGEINT) AS nb FROM bc)
      |SELECT bigram, CAST(cab AS BIGINT) AS cab,
      |       CAST(a.cw AS BIGINT) AS c1, CAST(b.cw AS BIGINT) AS c2,
      |       floor(ln(CAST(cab * nu.nu * nu.nu AS DOUBLE)
      |                / CAST(nb.nb * a.cw * b.cw AS DOUBLE))
      |             * 1000000 + 0.5) / 1000000 AS pmi
      |FROM bc
      |JOIN uc a ON split_part(bc.bigram, ' ', 1) = a.w
      |JOIN uc b ON split_part(bc.bigram, ' ', 2) = b.w, nu, nb
      |WHERE cab >= 5
      |ORDER BY pmi DESC, bigram LIMIT 20""".stripMargin

  // x268: zero-count docs enter the moments implicitly (contribute 0 to
  // both sums); VMR is ONE division from exact integers.
  val x268: String =
    """WITH d AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |           FROM documents WHERE text IS NOT NULL),
      |pd AS (SELECT w, doc_id, CAST(count(*) AS BIGINT) AS c
      |       FROM d GROUP BY w, doc_id),
      |st AS (SELECT w, CAST(sum(c) AS BIGINT) AS sc,
      |              CAST(sum(c * c) AS BIGINT) AS scc,
      |              CAST(count(*) AS BIGINT) AS df
      |       FROM pd GROUP BY w),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS nn
      |      FROM documents WHERE text IS NOT NULL)
      |SELECT w AS token, sc AS n_occurrences, df AS doc_freq,
      |       floor(CAST(sc AS DOUBLE) / CAST(nn AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS mean_per_doc,
      |       CASE WHEN sc > 0 AND nn > 1 THEN
      |         floor(CAST(nn * scc - sc * sc AS DOUBLE)
      |               / CAST(sc * (nn - 1) AS DOUBLE) * 1000000 + 0.5)
      |           / 1000000
      |       END AS vmr
      |FROM st, n
      |ORDER BY n_occurrences DESC, token LIMIT 10""".stripMargin

  // x269: the fingerprint string (sorted distinct tokens, space-joined)
  // is byte-identical in both engines; counts only.
  val x269: String =
    """WITH g AS (SELECT md5(array_to_string(list_sort(list_distinct(
      |                    string_split(text, ' '))), ' ')) AS fp,
      |                  source, CAST(count(*) AS BIGINT) AS c
      |           FROM documents WHERE text IS NOT NULL
      |           GROUP BY 1, 2)
      |SELECT a.source AS source_a, b.source AS source_b,
      |       CAST(count(*) AS BIGINT) AS n_shared_fp,
      |       CAST(sum(a.c * b.c) AS BIGINT) AS n_doc_pairs
      |FROM g a JOIN g b ON a.fp = b.fp AND a.source < b.source
      |GROUP BY a.source, b.source
      |ORDER BY source_a, source_b""".stripMargin

  // x270: window counts are pure integer arithmetic; the amplification is
  // one division of exact longs.
  val x270: String =
    """WITH d AS (SELECT source,
      |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      |           FROM documents WHERE text IS NOT NULL),
      |w AS (SELECT source, n,
      |             CASE WHEN n <= 64 THEN 1
      |                  ELSE (n - 64 + 47) // 48 + 1 END AS nw
      |      FROM d)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n) AS BIGINT) AS raw_tokens,
      |       CAST(sum(nw) AS BIGINT) AS n_windows,
      |       CAST(sum(nw * 64) AS BIGINT) AS emitted_tokens,
      |       floor(CAST(sum(nw * 64) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS amplification
      |FROM w GROUP BY source ORDER BY source""".stripMargin

  // x271: x13's minhash/band CTEs verbatim (pins the band hashes a second
  // way); candidates DISTINCT per band; intersections exact via shingle
  // equi-join on the DISTINCT shingle sets; threshold test integer.
  val x271: String =
    s"""WITH $shingleCte,
      |dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
      |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM dsh GROUP BY doc_id),
      |mh AS (
      |  SELECT doc_id, j, min(md5(concat(CAST(j AS VARCHAR), '|', shingle))) AS mh
      |  FROM sh, range(0, 16) s(j) GROUP BY doc_id, j),
      |band AS (
      |  SELECT doc_id, j // 4 AS band, md5(string_agg(mh, ',' ORDER BY j)) AS bh
      |  FROM mh GROUP BY doc_id, j // 4),
      |cand AS (SELECT DISTINCT a.band, a.doc_id AS da, b.doc_id AS db
      |         FROM band a JOIN band b
      |           ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
      |iv AS (SELECT c.band, c.da, c.db, CAST(count(*) AS BIGINT) AS i
      |       FROM cand c
      |       JOIN dsh x ON x.doc_id = c.da
      |       JOIN dsh y ON y.doc_id = c.db AND y.shingle = x.shingle
      |       GROUP BY c.band, c.da, c.db),
      |jj AS (SELECT c.band, coalesce(iv.i, 0) AS i,
      |              sa.n + sb.n - coalesce(iv.i, 0) AS u
      |       FROM cand c
      |       LEFT JOIN iv ON iv.band = c.band AND iv.da = c.da AND iv.db = c.db
      |       JOIN sz sa ON sa.doc_id = c.da
      |       JOIN sz sb ON sb.doc_id = c.db)
      |SELECT band, CAST(count(*) AS BIGINT) AS n_cand,
      |       CAST(sum(CASE WHEN 5 * i >= 4 * u THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_true,
      |       floor(CAST(count(*) - sum(CASE WHEN 5 * i >= 4 * u THEN 1 ELSE 0 END)
      |             AS DOUBLE) / CAST(count(*) AS DOUBLE) * 1000000 + 0.5)
      |         / 1000000 AS fp_rate
      |FROM jj GROUP BY band ORDER BY band""".stripMargin

  // x272: empty shards contribute 0 to the moments implicitly; rel-var
  // and skew are exact-long ratios, one division + sqrt each.
  val x272: String =
    """WITH d AS (SELECT doc_id,
      |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
      |                  doc_id % 32 AS shard_mod,
      |                  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |                    % 32 AS shard_hash
      |           FROM documents WHERE text IS NOT NULL),
      |am AS (SELECT CAST(sum(x) AS BIGINT) AS sx,
      |              CAST(sum(x * x) AS BIGINT) AS sxx,
      |              CAST(max(x) AS BIGINT) AS mx
      |       FROM (SELECT shard_mod, sum(nt) AS x FROM d GROUP BY shard_mod)),
      |ah AS (SELECT CAST(sum(x) AS BIGINT) AS sx,
      |              CAST(sum(x * x) AS BIGINT) AS sxx,
      |              CAST(max(x) AS BIGINT) AS mx
      |       FROM (SELECT shard_hash, sum(nt) AS x FROM d GROUP BY shard_hash))
      |SELECT * FROM (
      |  SELECT 'mod' AS strategy, CAST(32 AS BIGINT) AS n_shards,
      |         sx AS total_tokens, mx AS max_shard_tokens,
      |         floor(sqrt(CAST(32 * sxx - sx * sx AS DOUBLE)
      |               / CAST(sx * sx AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS cv,
      |         floor(CAST(32 * mx AS DOUBLE) / CAST(sx AS DOUBLE)
      |               * 1000000 + 0.5) / 1000000 AS skew
      |  FROM am
      |  UNION ALL
      |  SELECT 'hash', CAST(32 AS BIGINT), sx, mx,
      |         floor(sqrt(CAST(32 * sxx - sx * sx AS DOUBLE)
      |               / CAST(sx * sx AS DOUBLE)) * 1000000 + 0.5) / 1000000,
      |         floor(CAST(32 * mx AS DOUBLE) / CAST(sx AS DOUBLE)
      |               * 1000000 + 0.5) / 1000000
      |  FROM ah)
      |ORDER BY strategy""".stripMargin

  // x273: the oracle MAY use the global rank window (fixture scale, the
  // x255 note); n^(1/3) is exp(ln(n)/3) explicitly in both engines; the
  // width snaps to an integer so bins are exact.
  val x273: String =
    """WITH d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS x
      |           FROM documents WHERE n_chars IS NOT NULL),
      |r AS (SELECT x, row_number() OVER (ORDER BY x, doc_id) AS r FROM d),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
      |q AS (SELECT n.n,
      |             min(CASE WHEN r.r = (n.n + 3) // 4 THEN r.x END) AS q1,
      |             min(CASE WHEN r.r = (3 * n.n + 3) // 4 THEN r.x END) AS q3
      |      FROM r, n GROUP BY n.n),
      |w AS (SELECT n, q1, q3,
      |             greatest(1, CAST(floor(
      |               floor(2.0 * CAST(q3 - q1 AS DOUBLE)
      |                     / exp(ln(CAST(n AS DOUBLE)) / 3.0)
      |                     * 1000000 + 0.5) / 1000000 + 0.5) AS BIGINT)) AS h
      |      FROM q)
      |SELECT x // h AS bin, (x // h) * h AS bin_lo, (x // h + 1) * h AS bin_hi,
      |       h AS bin_width, q1, q3, CAST(count(*) AS BIGINT) AS n_docs
      |FROM d, w
      |GROUP BY x // h, h, q1, q3
      |ORDER BY bin""".stripMargin

  // x274: N/N1/N2 exact counts; each output ONE division, NULL at N1=0.
  val x274: String =
    """WITH tc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
      |            FROM (SELECT source, unnest(string_split(text, ' ')) AS w
      |                  FROM documents WHERE text IS NOT NULL)
      |            GROUP BY source, w),
      |g AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
      |             CAST(count(*) AS BIGINT) AS n_types,
      |             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |             CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |      FROM tc GROUP BY source)
      |SELECT source, n_tokens, n_types, n1, n2,
      |       floor(CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS p_unseen,
      |       CASE WHEN n1 > 0 THEN
      |         floor(2.0 * CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |               * 1000000 + 0.5) / 1000000
      |       END AS r_star_1
      |FROM g ORDER BY source""".stripMargin

  // x275: quartile = ceil(4r/n) on the exact rank; dup = fingerprint
  // multiplicity > 1; one division per quartile.
  val x275: String =
    """WITH d AS (SELECT doc_id,
      |                  md5(array_to_string(list_sort(list_distinct(
      |                    string_split(text, ' '))), ' ')) AS fp,
      |                  CAST(n_chars AS BIGINT) AS x
      |           FROM documents
      |           WHERE text IS NOT NULL AND n_chars IS NOT NULL),
      |r AS (SELECT doc_id, fp, x,
      |             row_number() OVER (ORDER BY x, doc_id) AS r FROM d),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
      |m AS (SELECT fp, CAST(count(*) AS BIGINT) AS m FROM d GROUP BY fp),
      |q AS (SELECT (4 * r.r + n.n - 1) // n.n AS quartile, r.x, m.m
      |      FROM r JOIN m ON r.fp = m.fp, n)
      |SELECT quartile, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(CASE WHEN m > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
      |       CAST(min(x) AS BIGINT) AS min_len, CAST(max(x) AS BIGINT) AS max_len,
      |       floor(CAST(sum(CASE WHEN m > 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |             / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000
      |         AS dup_rate
      |FROM q GROUP BY quartile ORDER BY quartile""".stripMargin

  // x276: Σmin over shared tokens via the token equi-join; Σmax by the
  // identity Na + Nb − Σmin. Exact longs, one division, round6. Every
  // source pair is reported via the pair spine (advice r11): disjoint
  // pairs carry zeros, never a missing row (mirrors the Spark side).
  val x276: String =
    """WITH grp AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
      |             FROM (SELECT source, unnest(string_split(text, ' ')) AS w
      |                   FROM documents WHERE text IS NOT NULL)
      |             GROUP BY source, w),
      |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM grp GROUP BY source),
      |spine AS (SELECT ta.source AS source_a, tb.source AS source_b,
      |                 ta.n AS na, tb.n AS nb
      |          FROM tot ta JOIN tot tb ON ta.source < tb.source),
      |p AS (SELECT a.source AS source_a, b.source AS source_b,
      |             CAST(count(*) AS BIGINT) AS shared_types,
      |             CAST(sum(least(a.c, b.c)) AS BIGINT) AS sum_min
      |      FROM grp a JOIN grp b ON a.w = b.w AND a.source < b.source
      |      GROUP BY a.source, b.source)
      |SELECT s.source_a, s.source_b,
      |       coalesce(shared_types, 0) AS shared_types,
      |       coalesce(sum_min, 0) AS sum_min, s.na, s.nb,
      |       floor(CAST(coalesce(sum_min, 0) AS DOUBLE)
      |             / CAST(s.na + s.nb - coalesce(sum_min, 0) AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS wjaccard
      |FROM spine s LEFT JOIN p ON s.source_a = p.source_a
      |                        AND s.source_b = p.source_b
      |ORDER BY s.source_a, s.source_b""".stripMargin

  // x277: pure integer counting over the 50-token gated graph; top-50 is
  // the (df desc, w) total order; one division, NULL when wedges = 0.
  val x277: String =
    """WITH dt AS (SELECT DISTINCT doc_id, w
      |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |                  FROM documents WHERE text IS NOT NULL)),
      |top AS (SELECT w FROM (SELECT w, count(*) AS df FROM dt GROUP BY w)
      |        ORDER BY df DESC, w LIMIT 50),
      |g AS (SELECT dt.doc_id, dt.w FROM dt JOIN top ON dt.w = top.w),
      |e AS (SELECT DISTINCT a.w AS u, b.w AS v
      |      FROM g a JOIN g b ON a.doc_id = b.doc_id AND a.w < b.w),
      |deg AS (SELECT x, CAST(count(*) AS BIGINT) AS d
      |        FROM (SELECT u AS x FROM e UNION ALL SELECT v FROM e) GROUP BY x),
      |wed AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
      |               CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
      |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
      |        FROM e e1 JOIN e e2 ON e1.v = e2.u
      |                  JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v),
      |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
      |SELECT n_nodes, n_edges, n_wedges, n_triangles,
      |       CASE WHEN n_wedges > 0 THEN
      |         floor(3.0 * CAST(n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)
      |               * 1000000 + 0.5) / 1000000 END AS transitivity
      |FROM ne, wed, tri""".stripMargin

  // x278: md5-parity signs (the x272 '0x'-cast pattern); Z and F2 exact
  // longs; the mean estimate and relative error are one division each.
  val x278: String =
    """WITH cnt AS (SELECT w, CAST(count(*) AS BIGINT) AS c
      |             FROM (SELECT unnest(string_split(text, ' ')) AS w
      |                   FROM documents WHERE text IS NOT NULL)
      |             GROUP BY w),
      |est AS (SELECT j, CAST(sum(CASE WHEN
      |               ('0x' || substring(md5(CAST(j AS VARCHAR) || ':' || w),
      |                1, 1))::BIGINT % 2 = 0 THEN c ELSE -c END) AS BIGINT) AS z
      |        FROM cnt, (SELECT unnest(generate_series(0, 15)) AS j)
      |        GROUP BY j),
      |f2 AS (SELECT CAST(sum(c * c) AS BIGINT) AS f2_exact FROM cnt),
      |m AS (SELECT CAST(sum(z * z) AS BIGINT) AS se FROM est)
      |SELECT CAST(j AS BIGINT) AS j, z, CAST(z * z AS BIGINT) AS est, f2_exact,
      |       floor(CAST(se AS DOUBLE) / 16.0 * 1000000 + 0.5) / 1000000
      |         AS f2_est_mean,
      |       floor(abs(CAST(se AS DOUBLE) / 16.0 - CAST(f2_exact AS DOUBLE))
      |             / CAST(f2_exact AS DOUBLE) * 1000000 + 0.5) / 1000000
      |         AS rel_err
      |FROM est, f2, m ORDER BY j""".stripMargin

  // x279: word/syllable totals exact longs (vowel-group count per word,
  // min 1); the ratios and score are float-from-exact-longs, round6.
  val x279: String =
    """WITH d AS (SELECT source,
      |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
      |                  CAST(list_sum(list_transform(string_split(text, ' '),
      |                    w -> greatest(1, len(regexp_extract_all(w, '[aeiouy]+')))))
      |                    AS BIGINT) AS ny
      |           FROM documents WHERE text IS NOT NULL),
      |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |             CAST(sum(nw) AS BIGINT) AS n_words,
      |             CAST(sum(ny) AS BIGINT) AS n_syllables
      |      FROM d GROUP BY source)
      |SELECT source, n_docs, n_words, n_syllables,
      |       floor(CAST(n_words AS DOUBLE) / CAST(n_docs AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS words_per_doc,
      |       floor(CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS syllables_per_word,
      |       floor((206.835 - 1.015 * CAST(n_words AS DOUBLE) / CAST(n_docs AS DOUBLE)
      |              - 84.6 * CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
      |             * 1000000 + 0.5) / 1000000 AS flesch
      |FROM g ORDER BY source""".stripMargin

  // x283: the oracle MAY use the global rank window (fixture scale, the
  // x255 note); md5 hex strings order identically in both engines.
  val x283: String =
    """WITH d AS (SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS h
      |           FROM documents),
      |r AS (SELECT doc_id, source, h,
      |             row_number() OVER (ORDER BY h, doc_id) AS r FROM d)
      |SELECT r, doc_id, source, h FROM r WHERE (r - 1) % 25 = 0
      |ORDER BY r""".stripMargin

  // x280: the six log-weights are pre-rounded literal decimals (identical
  // in both engines — no runtime ln); the score is an exact decimal sum.
  val x280: String =
    """WITH c AS (SELECT c_custkey, c_nationkey, c_mktsegment,
      |                  CAST(floor(c_acctbal) AS BIGINT) // 100 AS bb,
      |                  substring(c_name, -1, 1) AS nd,
      |                  c_acctbal < 0 AS neg
      |           FROM customer
      |           WHERE c_acctbal IS NOT NULL AND c_mktsegment IS NOT NULL)
      |SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
      |       CAST(a.bb = b.bb AS INT) AS agree_balance,
      |       CAST(a.nd = b.nd AS INT) AS agree_name_digit,
      |       CAST(a.neg = b.neg AS INT) AS agree_sign,
      |       CAST(CAST(
      |         (CASE WHEN a.bb = b.bb THEN CAST(2.890372 AS DECIMAL(18,6))
      |               ELSE CAST(-2.251292 AS DECIMAL(18,6)) END)
      |         + (CASE WHEN a.nd = b.nd THEN CAST(2.140066 AS DECIMAL(18,6))
      |                 ELSE CAST(-1.791759 AS DECIMAL(18,6)) END)
      |         + (CASE WHEN a.neg = b.neg THEN CAST(0.641854 AS DECIMAL(18,6))
      |                 ELSE CAST(-2.302585 AS DECIMAL(18,6)) END)
      |         AS DECIMAL(18,6)) AS DOUBLE) AS score
      |FROM c a JOIN c b ON a.c_nationkey = b.c_nationkey
      |                 AND a.c_mktsegment = b.c_mktsegment
      |                 AND a.c_custkey < b.c_custkey
      |ORDER BY score DESC, custkey_a, custkey_b LIMIT 20""".stripMargin

  // x281: U/N exact longs (min_by canonical doc per fingerprint); the
  // decay-law float chain is written in the identical op order as Spark.
  val x281: String =
    """WITH d AS (SELECT source, doc_id,
      |                  md5(list_aggr(list_sort(list_distinct(string_split(text, ' '))),
      |                      'string_agg', ' ')) AS fp,
      |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      |           FROM documents WHERE text IS NOT NULL),
      |pf AS (SELECT source, fp, CAST(sum(nt) AS BIGINT) AS raw,
      |              min_by(nt, doc_id) AS u1
      |       FROM d GROUP BY source, fp),
      |per AS (SELECT source, CAST(sum(raw) AS BIGINT) AS n_raw,
      |               CAST(sum(u1) AS BIGINT) AS n_unique
      |        FROM pf GROUP BY source),
      |bud AS (SELECT CAST(max(n_raw) AS BIGINT) AS b FROM per),
      |e AS (SELECT source, n_raw, n_unique, b,
      |             CAST(b AS DOUBLE) / CAST(n_unique AS DOUBLE) - 1.0 AS r_epochs
      |      FROM per, bud),
      |f AS (SELECT *, CAST(n_unique AS DOUBLE) *
      |             (1.0 + 15.0 * (1.0 - exp(-(r_epochs / 15.0)))) AS deff FROM e)
      |SELECT source, n_raw, n_unique, b AS budget,
      |       floor(r_epochs * 1000000 + 0.5) / 1000000 AS repeat_epochs,
      |       floor(deff * 1000000 + 0.5) / 1000000 AS d_eff,
      |       floor(deff / CAST(b AS DOUBLE) * 1000000 + 0.5) / 1000000 AS efficiency
      |FROM f ORDER BY source""".stripMargin

  // x282: doubled medians make |2v − med2| exact; the two SS use the x206
  // integer-div rule (mirrored //); one division at the edge, NULL at 0.
  val x282: String =
    """WITH obs AS (SELECT event_type,
      |                  CAST(floor(value + 0.5) AS BIGINT) AS v
      |             FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
      |med AS (SELECT event_type, CAST(2.0 * median(v) AS BIGINT) AS med2
      |        FROM obs GROUP BY event_type),
      |z AS (SELECT obs.event_type, abs(2 * v - med2) AS z
      |      FROM obs JOIN med ON obs.event_type = med.event_type),
      |grp AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |               CAST(sum(z) AS BIGINT) AS s, CAST(sum(z * z) AS BIGINT) AS q
      |        FROM z GROUP BY event_type),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(s) AS BIGINT) AS ss,
      |               CAST(sum(q) AS BIGINT) AS qq,
      |               CAST(sum((s * s) // n) AS BIGINT) AS a,
      |               CAST(count(*) AS BIGINT) AS k
      |        FROM grp)
      |SELECT g.event_type, g.n, m.med2, g.s AS sum_dev2,
      |       CASE WHEN qq - a > 0 THEN
      |         floor(CAST((nn - k) * (a - (ss * ss) // nn) AS DOUBLE)
      |               / CAST((k - 1) * (qq - a) AS DOUBLE) * 1000000 + 0.5) / 1000000
      |       END AS f_stat
      |FROM grp g JOIN med m ON g.event_type = m.event_type, tot
      |ORDER BY g.event_type""".stripMargin

  // x284: per-doc terms round6 to DECIMAL then sum exactly (x101); the ln
  // argument is an exact-long ratio (one division, the x244 parity rule).
  val x284: String =
    """WITH d AS (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS x
      |           FROM documents WHERE text IS NOT NULL),
      |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
      |               CAST(sum(x) AS BIGINT) AS nt
      |        FROM d GROUP BY source),
      |t AS (SELECT d.source, n, nt,
      |             CAST(floor((CAST(x * n AS DOUBLE) / CAST(nt AS DOUBLE))
      |                  * ln(CAST(x * n AS DOUBLE) / CAST(nt AS DOUBLE))
      |                  * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS t6
      |      FROM d JOIN tot ON d.source = tot.source)
      |SELECT source, min(n) AS n_docs, min(nt) AS n_tokens,
      |       floor(CAST(CAST(sum(t6) AS DECIMAL(28,6)) AS DOUBLE)
      |             / CAST(min(n) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS theil
      |FROM t GROUP BY source ORDER BY source""".stripMargin

  // x285: every ln argument is a ratio of exact longs; per-token terms
  // round6 to DECIMAL, multiply by the exact long count, sum exactly.
  val x285: String =
    """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w
      |            FROM documents WHERE text IS NOT NULL),
      |gl AS (SELECT w, CAST(count(*) AS BIGINT) AS cw FROM tok GROUP BY w),
      |ntot AS (SELECT CAST(sum(cw) AS BIGINT) AS nn FROM gl),
      |per AS (SELECT source, w, CAST(count(*) AS BIGINT) AS csw
      |        FROM tok GROUP BY source, w),
      |ns AS (SELECT source, CAST(sum(csw) AS BIGINT) AS nsrc FROM per GROUP BY source),
      |terms AS (SELECT per.source, nsrc, csw,
      |                 csw * CAST(floor(ln(CAST(nn AS DOUBLE) / CAST(cw AS DOUBLE))
      |                       * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS tx,
      |                 csw * CAST(floor(ln(CAST(csw * nn AS DOUBLE)
      |                       / CAST(nsrc * cw AS DOUBLE))
      |                       * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS tk
      |          FROM per JOIN gl ON per.w = gl.w
      |                   JOIN ns ON per.source = ns.source, ntot),
      |hc AS (SELECT floor(CAST(CAST(sum(cw * CAST(floor(ln(CAST(nn AS DOUBLE)
      |                / CAST(cw AS DOUBLE)) * 1000000 + 0.5) / 1000000
      |                AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE)
      |              / CAST(max(nn) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS h_corpus
      |       FROM gl, ntot)
      |SELECT source, min(nsrc) AS n_tokens,
      |       floor(CAST(CAST(sum(tx) AS DECIMAL(38,6)) AS DOUBLE)
      |             / CAST(min(nsrc) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS xent,
      |       floor(CAST(CAST(sum(tk) AS DECIMAL(38,6)) AS DOUBLE)
      |             / CAST(min(nsrc) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS kl,
      |       h_corpus
      |FROM terms, hc GROUP BY source, h_corpus ORDER BY source""".stripMargin

  // x286: with 3 raters / 2 categories every Fleiss quantity is integer;
  // kappa is ONE division of exact longs; pe = 1 pins NULL (mirrored).
  val x286: String =
    """WITH d AS (SELECT (CASE WHEN n_chars >= 120 THEN 1 ELSE 0 END
      |                   + CASE WHEN len(string_split(text, ' ')) >= 24 THEN 1 ELSE 0 END
      |                   + CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS a
      |           FROM documents
      |           WHERE text IS NOT NULL AND n_chars IS NOT NULL AND lang IS NOT NULL),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(a) AS BIGINT) AS tp,
      |             CAST(sum(a * a + (3 - a) * (3 - a) - 3) AS BIGINT) AS sp
      |      FROM d),
      |p AS (SELECT n, tp, sp,
      |             tp * tp + (3 * n - tp) * (3 * n - tp) AS pen FROM m)
      |SELECT n AS n_docs, tp AS n_pass_ratings,
      |       floor(CAST(sp AS DOUBLE) / CAST(6 * n AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS p_bar,
      |       floor(CAST(pen AS DOUBLE) / CAST(9 * n * n AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS p_e,
      |       CASE WHEN 18 * n * n - 2 * pen <> 0 THEN
      |         floor(CAST(3 * n * sp - 2 * pen AS DOUBLE)
      |               / CAST(18 * n * n - 2 * pen AS DOUBLE) * 1000000 + 0.5) / 1000000
      |       END AS kappa
      |FROM p""".stripMargin

  // x287: canonical doc per fingerprint = min_by(nt, doc_id); masses exact
  // longs; two divisions per source, round6.
  val x287: String =
    """WITH d AS (SELECT source, doc_id, md5(text) AS fpx,
      |                  md5(list_aggr(list_sort(list_distinct(string_split(text, ' '))),
      |                      'string_agg', ' ')) AS fps,
      |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      |           FROM documents WHERE text IS NOT NULL),
      |raw AS (SELECT source, CAST(sum(nt) AS BIGINT) AS raw_tokens FROM d GROUP BY source),
      |ex AS (SELECT source, CAST(sum(u) AS BIGINT) AS exact_kept
      |       FROM (SELECT source, fpx, min_by(nt, doc_id) AS u FROM d GROUP BY source, fpx)
      |       GROUP BY source),
      |st AS (SELECT source, CAST(sum(u) AS BIGINT) AS set_kept
      |       FROM (SELECT source, fps, min_by(nt, doc_id) AS u FROM d GROUP BY source, fps)
      |       GROUP BY source)
      |SELECT raw.source, raw_tokens, exact_kept, set_kept,
      |       floor(CAST(raw_tokens - exact_kept AS DOUBLE) / CAST(raw_tokens AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS save_exact,
      |       floor(CAST(raw_tokens - set_kept AS DOUBLE) / CAST(raw_tokens AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS save_set
      |FROM raw JOIN ex ON raw.source = ex.source JOIN st ON raw.source = st.source
      |ORDER BY raw.source""".stripMargin

  // x288: n^tau = exp(tau*ln n) explicitly (x273's rule), then x265's
  // rounding chain per tau; the tau spine is a 4-row literal.
  val x288: String =
    """WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n
      |             FROM documents GROUP BY source),
      |r AS (SELECT tau, source, n,
      |             CAST(floor(exp(tau * ln(CAST(n AS DOUBLE))) * 1000000 + 0.5)
      |                  / 1000000 AS DECIMAL(18,6)) AS r6
      |      FROM per, (SELECT unnest([0.25, 0.5, 0.75, 1.0]) AS tau)),
      |s AS (SELECT tau, CAST(sum(r6) AS DECIMAL(28,6)) AS s,
      |             CAST(sum(n) AS BIGINT) AS nt FROM r GROUP BY tau),
      |w AS (SELECT r.tau, source, n, nt,
      |             CAST(floor(CAST(r6 AS DOUBLE) / CAST(s AS DOUBLE) * 1000000 + 0.5)
      |                  / 1000000 AS DECIMAL(18,6)) AS w6
      |      FROM r JOIN s ON r.tau = s.tau),
      |c AS (SELECT tau, source, n, nt, w6,
      |             CAST(floor(CAST(w6 AS DOUBLE) * CAST(w6 AS DOUBLE) / CAST(n AS DOUBLE)
      |                  * 1000000000 + 0.5) / 1000000000 AS DECIMAL(18,9)) AS c9 FROM w),
      |g AS (SELECT tau, CAST(sum(w6) AS DECIMAL(28,6)) AS sw,
      |             CAST(sum(c9) AS DECIMAL(28,9)) AS sc FROM c GROUP BY tau)
      |SELECT c.tau, source, n AS n_docs, CAST(w6 AS DOUBLE) AS weight,
      |       CASE WHEN sc <> 0 THEN
      |         floor(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(sc AS DOUBLE)
      |               * 1000000 + 0.5) / 1000000 END AS ess,
      |       CASE WHEN sc <> 0 THEN
      |         floor(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(sc AS DOUBLE)
      |               / CAST(nt AS DOUBLE) * 1000000 + 0.5) / 1000000 END AS ess_ratio
      |FROM c JOIN g ON c.tau = g.tau ORDER BY c.tau, source""".stripMargin

  // x289: the sign matrix is the same literal both engines read; per-pair
  // sums ride the x11 64-term round6 pattern.
  val x289: String = {
    val signs = graft.queries.Round11Queries.JlSigns
    s"""WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16),
       |proj AS (SELECT vec_id, k,
       |                sum((CASE WHEN substring('$signs', (k - 1) * 64 + d, 1) = '1'
       |                          THEN 1.0 ELSE -1.0 END)
       |                    * CAST(embedding[d] AS DOUBLE)) AS y
       |         FROM base, range(1, 9) kk(k), range(1, 65) dd(d)
       |         GROUP BY vec_id, k),
       |d2o AS (SELECT a.vec_id AS ida, b.vec_id AS idb,
       |               sum((CAST(a.embedding[i.i] AS DOUBLE) - CAST(b.embedding[i.i] AS DOUBLE))
       |                   * (CAST(a.embedding[i.i] AS DOUBLE) - CAST(b.embedding[i.i] AS DOUBLE))) AS d2o
       |        FROM base a JOIN base b ON a.vec_id < b.vec_id, range(1, 65) i(i)
       |        GROUP BY a.vec_id, b.vec_id),
       |d2p AS (SELECT pa.vec_id AS ida, pb.vec_id AS idb,
       |               sum((pa.y - pb.y) * (pa.y - pb.y)) AS d2p
       |        FROM proj pa JOIN proj pb ON pa.k = pb.k AND pa.vec_id < pb.vec_id
       |        GROUP BY pa.vec_id, pb.vec_id)
       |SELECT d2o.ida, d2o.idb,
       |       floor(d2o * 1000000 + 0.5) / 1000000 AS d2_orig,
       |       floor(d2p / 8.0 * 1000000 + 0.5) / 1000000 AS d2_est,
       |       CASE WHEN d2o <> 0.0 THEN floor(d2p / 8.0 / d2o * 1000000 + 0.5) / 1000000
       |       END AS ratio
       |FROM d2o JOIN d2p ON d2o.ida = d2p.ida AND d2o.idb = d2p.idb
       |ORDER BY d2o.ida, d2o.idb""".stripMargin
  }

  // x290: u is an exact dyadic double from md5's first 8 hex digits; the
  // key is exp(ln(u)/w) explicitly — both engines walk the same doubles.
  val x290: String =
    """WITH d AS (SELECT doc_id, source,
      |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
      |                  (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |                        + 1 AS DOUBLE) / 4294967296.0) AS u
      |           FROM documents WHERE text IS NOT NULL),
      |k AS (SELECT *, exp(ln(u) / CAST(w AS DOUBLE)) AS k FROM d)
      |SELECT doc_id, source, w,
      |       floor(u * 1000000 + 0.5) / 1000000 AS u,
      |       floor(k * 1000000 + 0.5) / 1000000 AS es_key
      |FROM k ORDER BY k DESC, doc_id LIMIT 20""".stripMargin

  // x291: pair census exact longs over the zero-filled top-100 grid; one
  // sqrt + division; all-ties pins NULL (mirrored).
  val x291: String =
    """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w
      |            FROM documents WHERE text IS NOT NULL),
      |gl AS (SELECT w, CAST(count(*) AS BIGINT) AS cx FROM tok GROUP BY w),
      |top AS (SELECT w, cx FROM gl ORDER BY cx DESC, w LIMIT 100),
      |per AS (SELECT source, w, CAST(count(*) AS BIGINT) AS cy
      |        FROM tok GROUP BY source, w),
      |grid AS (SELECT g.source, g.w, g.cx, coalesce(per.cy, 0) AS cy
      |         FROM (SELECT s.source, top.w, top.cx
      |               FROM (SELECT DISTINCT source FROM tok) s, top) g
      |         LEFT JOIN per ON per.source = g.source AND per.w = g.w),
      |pairs AS (SELECT a.source,
      |                 (a.cx - b.cx) * (a.cy - b.cy) AS prod,
      |                 CAST(a.cx = b.cx AS BIGINT) AS tx,
      |                 CAST(a.cy = b.cy AS BIGINT) AS ty
      |          FROM grid a JOIN grid b ON a.source = b.source AND a.w < b.w),
      |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n0,
      |             CAST(sum(CASE WHEN prod > 0 THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |             CAST(sum(CASE WHEN prod < 0 THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |             CAST(sum(tx) AS BIGINT) AS tx, CAST(sum(ty) AS BIGINT) AS ty
      |      FROM pairs GROUP BY source)
      |SELECT source, n0, c, d, tx, ty,
      |       CASE WHEN (n0 - tx) * (n0 - ty) > 0 THEN
      |         floor(CAST(c - d AS DOUBLE) / sqrt(CAST((n0 - tx) * (n0 - ty) AS DOUBLE))
      |               * 1000000 + 0.5) / 1000000 END AS tau_b
      |FROM g ORDER BY source""".stripMargin

  // x292: rides x213's integer p6 quantization — confidence, accuracy and
  // ECE are divisions of exact longs (no float sums anywhere).
  val x292: String =
    """WITH docs AS (SELECT doc_id, text, n_chars FROM documents
      |              WHERE text IS NOT NULL AND n_chars IS NOT NULL),
      |st AS (SELECT doc_id,
      |              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |              CAST(len(list_filter(string_split(text, ' '),
      |                   t -> t IN ('the', 'a', 'of', 'to', 'and'))) AS BIGINT) AS n_stop,
      |              CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_alpha,
      |              n_chars
      |       FROM docs),
      |scored AS (SELECT CASE WHEN n_chars >= 120 THEN 1 ELSE 0 END AS hit,
      |                  CAST(floor(1.0 / (1.0 + exp(-(-1.5 + 0.4 * ln(CAST(n_tokens AS DOUBLE) + 1.0)
      |                       - 2.5 * (CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE))
      |                       + 0.05 * least(CAST(n_alpha AS DOUBLE) / CAST(n_tokens AS DOUBLE), 10.0))))
      |                       * 1000000 + 0.5) AS BIGINT) AS p6
      |           FROM st),
      |b AS (SELECT least(p6 // 100000, 9) AS bin, CAST(count(*) AS BIGINT) AS n_docs,
      |             CAST(sum(p6) AS BIGINT) AS sp6, CAST(sum(hit) AS BIGINT) AS hits
      |      FROM scored GROUP BY 1),
      |e AS (SELECT CAST(sum(abs(hits * 1000000 - sp6)) AS BIGINT) AS eceNum,
      |             CAST(sum(n_docs) AS BIGINT) AS nn FROM b)
      |SELECT bin, n_docs,
      |       floor(CAST(sp6 AS DOUBLE) / CAST(n_docs * 1000000 AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS confidence,
      |       floor(CAST(hits AS DOUBLE) / CAST(n_docs AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS accuracy,
      |       floor(CAST(eceNum AS DOUBLE) / CAST(1000000 * nn AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS ece
      |FROM b, e ORDER BY bin""".stripMargin

  // x293: the three argmax steps unrolled as CTEs (the oracle-side mirror
  // of the driver-metric loop); distances ride the x11 64-term pattern;
  // tie-break (d2 desc, vec_id) on engine-identical doubles.
  val x293: String =
    """WITH e AS (SELECT vec_id, embedding FROM embeddings),
      |dist1 AS (SELECT a.vec_id,
      |                 sum((CAST(a.embedding[i.i] AS DOUBLE) - CAST(c.embedding[i.i] AS DOUBLE))
      |                     * (CAST(a.embedding[i.i] AS DOUBLE) - CAST(c.embedding[i.i] AS DOUBLE))) AS d2
      |          FROM e a, (SELECT embedding FROM e WHERE vec_id = 0) c, range(1, 65) i(i)
      |          GROUP BY a.vec_id),
      |c2 AS (SELECT vec_id, d2 FROM dist1 ORDER BY d2 DESC, vec_id LIMIT 1),
      |dist2 AS (SELECT a.vec_id,
      |                 sum((CAST(a.embedding[i.i] AS DOUBLE) - CAST(c.embedding[i.i] AS DOUBLE))
      |                     * (CAST(a.embedding[i.i] AS DOUBLE) - CAST(c.embedding[i.i] AS DOUBLE))) AS d2
      |          FROM e a, (SELECT embedding FROM e WHERE vec_id = (SELECT vec_id FROM c2)) c,
      |               range(1, 65) i(i)
      |          GROUP BY a.vec_id),
      |m2 AS (SELECT dist1.vec_id, least(dist1.d2, dist2.d2) AS dmin
      |       FROM dist1 JOIN dist2 ON dist1.vec_id = dist2.vec_id),
      |c3 AS (SELECT vec_id, dmin FROM m2 ORDER BY dmin DESC, vec_id LIMIT 1),
      |dist3 AS (SELECT a.vec_id,
      |                 sum((CAST(a.embedding[i.i] AS DOUBLE) - CAST(c.embedding[i.i] AS DOUBLE))
      |                     * (CAST(a.embedding[i.i] AS DOUBLE) - CAST(c.embedding[i.i] AS DOUBLE))) AS d2
      |          FROM e a, (SELECT embedding FROM e WHERE vec_id = (SELECT vec_id FROM c3)) c,
      |               range(1, 65) i(i)
      |          GROUP BY a.vec_id),
      |m3 AS (SELECT m2.vec_id, least(m2.dmin, dist3.d2) AS dmin
      |       FROM m2 JOIN dist3 ON m2.vec_id = dist3.vec_id),
      |c4 AS (SELECT vec_id, dmin FROM m3 ORDER BY dmin DESC, vec_id LIMIT 1)
      |SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS step, CAST(0 AS BIGINT) AS center_id,
      |         CAST(NULL AS DOUBLE) AS radius2
      |  UNION ALL
      |  SELECT 2, vec_id, floor(d2 * 1000000 + 0.5) / 1000000 FROM c2
      |  UNION ALL
      |  SELECT 3, vec_id, floor(dmin * 1000000 + 0.5) / 1000000 FROM c3
      |  UNION ALL
      |  SELECT 4, vec_id, floor(dmin * 1000000 + 0.5) / 1000000 FROM c4)
      |ORDER BY step""".stripMargin

  // x294: md5 hex strings order identically; the ROWS window mirrors the
  // Spark frame; per-doc densities round6 to DECIMAL then sum exactly.
  val x294: String =
    """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS toks
      |           FROM documents WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 6),
      |sh AS (SELECT doc_id, source, CAST(len(toks) - 2 AS BIGINT) AS m,
      |              CAST(i AS BIGINT) AS p,
      |              md5(toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) AS h
      |       FROM d, LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i)),
      |win AS (SELECT doc_id, source, m, p,
      |               min(h) OVER (PARTITION BY doc_id ORDER BY p
      |                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh
      |        FROM sh),
      |fp AS (SELECT doc_id, source, m,
      |              CAST(count(DISTINCT mh) AS BIGINT) AS nfp
      |       FROM win WHERE p <= m - 3 GROUP BY doc_id, source, m),
      |t AS (SELECT source, m, nfp,
      |             CAST(floor(CAST(nfp AS DOUBLE) / CAST(m AS DOUBLE) * 1000000 + 0.5)
      |                  / 1000000 AS DECIMAL(18,6)) AS dens6 FROM fp)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(nfp) AS BIGINT) AS n_fingerprints,
      |       CAST(sum(m) AS BIGINT) AS n_shingles,
      |       floor(CAST(CAST(sum(dens6) AS DECIMAL(28,6)) AS DOUBLE)
      |             / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS mean_density,
      |       0.4 AS theoretical_density
      |FROM t GROUP BY source ORDER BY source""".stripMargin

  // x295: leading zeros via hex-string arithmetic (no float log2); the
  // register sum is exact dyadic doubles; linear counting below 2.5m.
  val x295: String =
    """WITH tok AS (SELECT DISTINCT w
      |            FROM (SELECT unnest(string_split(text, ' ')) AS w
      |                  FROM documents WHERE text IS NOT NULL)),
      |h AS (SELECT w, md5(w) AS h FROM tok),
      |r AS (SELECT w, ('0x' || substring(h, 8, 1))::BIGINT AS j,
      |             substring(h, 1, 7) AS p7 FROM h),
      |rk AS (SELECT w, j,
      |              length(regexp_extract(p7, '^0*')) * 4 +
      |              (CASE WHEN p7 = '0000000' THEN 0 ELSE
      |                CASE WHEN substring(regexp_replace(p7, '^0*', ''), 1, 1)
      |                          IN ('8','9','a','b','c','d','e','f') THEN 0
      |                     WHEN substring(regexp_replace(p7, '^0*', ''), 1, 1)
      |                          IN ('4','5','6','7') THEN 1
      |                     WHEN substring(regexp_replace(p7, '^0*', ''), 1, 1)
      |                          IN ('2','3') THEN 2 ELSE 3 END END) + 1 AS rank
      |       FROM r),
      |regs AS (SELECT j, max(rank) AS m FROM rk GROUP BY j),
      |full_r AS (SELECT coalesce(m, 0) AS m
      |           FROM (SELECT unnest(generate_series(0, 15)) AS j) s
      |           LEFT JOIN regs ON s.j = regs.j),
      |agg AS (SELECT sum(1.0 / CAST((CAST(1 AS BIGINT) << m) AS DOUBLE)) AS den,
      |               CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v
      |        FROM full_r),
      |ex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM tok),
      |est AS (SELECT n_exact, v, 0.673 * 256.0 / den AS eraw,
      |               CASE WHEN 0.673 * 256.0 / den <= 40.0 AND v > 0
      |                    THEN 16.0 * ln(16.0 / CAST(v AS DOUBLE))
      |                    ELSE 0.673 * 256.0 / den END AS e
      |        FROM agg, ex)
      |SELECT n_exact, v AS empty_registers,
      |       floor(eraw * 1000000 + 0.5) / 1000000 AS e_raw,
      |       floor(e * 1000000 + 0.5) / 1000000 AS estimate,
      |       floor(abs(e - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS rel_err
      |FROM est""".stripMargin

  // x296: pure integer counting (mirrored truncating div); one ratio of
  // exact longs per histogram row.
  val x296: String =
    """WITH c AS (SELECT c_nationkey, c_mktsegment,
      |                  CAST(floor(c_acctbal) AS BIGINT) // 1000 AS sens
      |           FROM customer
      |           WHERE c_acctbal IS NOT NULL AND c_mktsegment IS NOT NULL),
      |l AS (SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS l
      |      FROM (SELECT DISTINCT * FROM c) GROUP BY c_nationkey, c_mktsegment),
      |hist AS (SELECT l, CAST(count(*) AS BIGINT) AS n_blocks FROM l GROUP BY l),
      |tot AS (SELECT CAST(sum(n_blocks) AS BIGINT) AS nb FROM hist)
      |SELECT l, n_blocks,
      |       floor(CAST(n_blocks AS DOUBLE) / CAST(nb AS DOUBLE) * 1000000 + 0.5)
      |         / 1000000 AS share
      |FROM hist, tot ORDER BY l""".stripMargin

  // x297: exact rational CDF steps on the shared distinct-length grid;
  // per-step terms round6 to DECIMAL then sum exactly (x101).
  val x297: String =
    """WITH d AS (SELECT source, CAST(n_chars AS BIGINT) AS x
      |           FROM documents WHERE n_chars IS NOT NULL),
      |grid AS (SELECT x, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY x),
      |per AS (SELECT source, x, CAST(count(*) AS BIGINT) AS cs FROM d GROUP BY source, x),
      |full_g AS (SELECT g.source, g.x, g.c, coalesce(per.cs, 0) AS cs
      |           FROM (SELECT s.source, grid.x, grid.c
      |                 FROM (SELECT DISTINCT source FROM d) s, grid) g
      |           LEFT JOIN per ON per.source = g.source AND per.x = g.x),
      |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS ns FROM d GROUP BY source),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM d),
      |st AS (SELECT source, x,
      |              sum(c) OVER (PARTITION BY source ORDER BY x
      |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |              sum(cs) OVER (PARTITION BY source ORDER BY x
      |                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cums,
      |              lead(x, 1) OVER (PARTITION BY source ORDER BY x) - x AS gap
      |       FROM full_g),
      |t AS (SELECT st.source,
      |             CAST(floor(abs(CAST(cums AS DOUBLE) / CAST(ns AS DOUBLE)
      |                  - CAST(cum AS DOUBLE) / CAST(nn AS DOUBLE))
      |                  * CAST(gap AS DOUBLE) * 1000000 + 0.5) / 1000000
      |                  AS DECIMAL(18,6)) AS t6
      |      FROM st JOIN tot ON st.source = tot.source, n
      |      WHERE gap IS NOT NULL)
      |SELECT t.source, ns AS n_docs,
      |       CAST(CAST(sum(t6) AS DECIMAL(28,6)) AS DOUBLE) AS w1_chars
      |FROM t JOIN tot ON t.source = tot.source
      |GROUP BY t.source, ns ORDER BY t.source""".stripMargin

  // x298: integer counting off the (fp, source) collapse; per-cluster
  // purity round6 to DECIMAL then summed exactly.
  val x298: String =
    """WITH grp AS (SELECT md5(list_aggr(list_sort(list_distinct(string_split(text, ' '))),
      |                      'string_agg', ' ')) AS fp, source, CAST(count(*) AS BIGINT) AS c
      |      FROM documents WHERE text IS NOT NULL GROUP BY 1, 2),
      |cl AS (SELECT fp, CAST(sum(c) AS BIGINT) AS m, CAST(count(*) AS BIGINT) AS nsrc,
      |              CAST(max(c) AS BIGINT) AS cmax
      |       FROM grp GROUP BY fp),
      |f AS (SELECT m, CASE WHEN nsrc = 1 THEN 1 ELSE 0 END AS single,
      |             CAST(floor(CAST(cmax AS DOUBLE) / CAST(m AS DOUBLE) * 1000000 + 0.5)
      |                  / 1000000 AS DECIMAL(18,6)) AS pur6
      |      FROM cl WHERE m >= 2)
      |SELECT CAST(count(*) AS BIGINT) AS n_clusters,
      |       CAST(sum(single) AS BIGINT) AS n_single_source,
      |       CAST(count(*) - sum(single) AS BIGINT) AS n_cross_source,
      |       CAST(sum(m) AS BIGINT) AS n_docs_clustered,
      |       CAST(sum(CASE WHEN single = 1 THEN m ELSE 0 END) AS BIGINT) AS docs_single,
      |       CASE WHEN count(*) > 0 THEN
      |         floor(CAST(count(*) - sum(single) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |               * 1000000 + 0.5) / 1000000 END AS cross_share,
      |       CASE WHEN count(*) > 0 THEN
      |         floor(CAST(CAST(sum(pur6) AS DECIMAL(28,6)) AS DOUBLE)
      |               / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000 END AS mean_purity
      |FROM f""".stripMargin

  // x299: gaps exact epoch-µs longs under the (t, event_id) per-user
  // order; HUGEINT moments mirror Spark's DECIMAL(38,0); CV one sqrt +
  // one division.
  val x299: String =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t
      |           FROM events
      |           WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL),
      |g0 AS (SELECT event_type,
      |              lead(t, 1) OVER (PARTITION BY user_id, event_type
      |                                ORDER BY t, event_id) - t AS g
      |       FROM e),
      |g AS (SELECT event_type, g FROM g0 WHERE g IS NOT NULL),
      |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(g) AS HUGEINT) AS sg,
      |             CAST(sum(CAST(g AS HUGEINT) * CAST(g AS HUGEINT)) AS HUGEINT) AS sgg
      |      FROM g GROUP BY event_type)
      |SELECT event_type, n,
      |       floor(CAST(sg AS DOUBLE) / CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000 AS mean_gap_us,
      |       CASE WHEN n >= 2 AND sg <> 0 THEN
      |         floor(sqrt(CAST(n * sgg - sg * sg AS DOUBLE)) / CAST(sg AS DOUBLE)
      |               * 1000000 + 0.5) / 1000000 END AS cv
      |FROM m ORDER BY event_type""".stripMargin

  // x300: ring positions/key hashes 32-bit md5 ints (x272's pattern);
  // assignment is a pure integer scan of the sorted 128-point ring.
  val x300: String =
    """WITH d AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
      |                  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
      |           FROM documents WHERE text IS NOT NULL),
      |r4 AS (SELECT s.shard,
      |              ('0x' || substring(md5(CAST(s.shard AS VARCHAR) || ':'
      |                || CAST(v.v AS VARCHAR)), 1, 8))::BIGINT AS pos
      |       FROM (SELECT unnest(generate_series(0, 31)) AS shard) s,
      |            (SELECT unnest(generate_series(0, 3)) AS v) v),
      |ring4 AS (SELECT list_sort(list(struct_pack(pos := pos, shard := shard))) AS ring FROM r4),
      |a4 AS (SELECT coalesce(list_filter(ring, x -> x.pos >= h)[1].shard, ring[1].shard) AS shard, nt
      |       FROM d, ring4),
      |g4 AS (SELECT shard, CAST(sum(nt) AS BIGINT) AS x FROM a4 GROUP BY shard),
      |m4 AS (SELECT CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sxx,
      |              CAST(max(x) AS BIGINT) AS mx, CAST(count(*) AS BIGINT) AS ne FROM g4),
      |r1 AS (SELECT s.shard,
      |              ('0x' || substring(md5(CAST(s.shard AS VARCHAR) || ':0'), 1, 8))::BIGINT AS pos
      |       FROM (SELECT unnest(generate_series(0, 31)) AS shard) s),
      |ring1 AS (SELECT list_sort(list(struct_pack(pos := pos, shard := shard))) AS ring FROM r1),
      |a1 AS (SELECT coalesce(list_filter(ring, x -> x.pos >= h)[1].shard, ring[1].shard) AS shard, nt
      |       FROM d, ring1),
      |g1 AS (SELECT shard, CAST(sum(nt) AS BIGINT) AS x FROM a1 GROUP BY shard),
      |m1 AS (SELECT CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sxx,
      |              CAST(max(x) AS BIGINT) AS mx, CAST(count(*) AS BIGINT) AS ne FROM g1)
      |SELECT * FROM (
      |  SELECT 'ring_v4' AS strategy, CAST(32 AS BIGINT) AS n_shards,
      |         ne AS n_nonempty_shards, sx AS total_tokens, mx AS max_shard_tokens,
      |         floor(sqrt(CAST(32 * sxx - sx * sx AS DOUBLE) / CAST(sx * sx AS DOUBLE))
      |               * 1000000 + 0.5) / 1000000 AS cv,
      |         floor(CAST(32 * mx AS DOUBLE) / CAST(sx AS DOUBLE) * 1000000 + 0.5) / 1000000 AS skew
      |  FROM m4
      |  UNION ALL
      |  SELECT 'ring_v1', CAST(32 AS BIGINT), ne, sx, mx,
      |         floor(sqrt(CAST(32 * sxx - sx * sx AS DOUBLE) / CAST(sx * sx AS DOUBLE))
      |               * 1000000 + 0.5) / 1000000,
      |         floor(CAST(32 * mx AS DOUBLE) / CAST(sx AS DOUBLE) * 1000000 + 0.5) / 1000000
      |  FROM m1)
      |ORDER BY strategy""".stripMargin

  // x301: the 100-row top frame is constant-sized; ln terms round6 to
  // DECIMAL and sum exactly; the OLS and residual chains mirror Spark's.
  val x301: String =
    """WITH cnt AS (SELECT w, CAST(count(*) AS BIGINT) AS c
      |             FROM (SELECT unnest(string_split(text, ' ')) AS w
      |                   FROM documents WHERE text IS NOT NULL) GROUP BY w),
      |top AS (SELECT c, CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS r
      |        FROM cnt ORDER BY c DESC, w LIMIT 100),
      |pts AS (SELECT b.beta,
      |               CAST(floor(ln(CAST(r + b.beta AS DOUBLE)) * 1000000 + 0.5)
      |                    / 1000000 AS DECIMAL(18,6)) AS x,
      |               CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000 + 0.5)
      |                    / 1000000 AS DECIMAL(18,6)) AS y
      |        FROM top, (SELECT unnest(generate_series(0, 5)) AS beta) b),
      |m AS (SELECT beta, CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(x) AS DECIMAL(28,6)) AS sx, CAST(sum(y) AS DECIMAL(28,6)) AS sy,
      |             CAST(sum(CAST(x * x AS DECIMAL(28,12))) AS DECIMAL(28,12)) AS sxx,
      |             CAST(sum(CAST(x * y AS DECIMAL(28,12))) AS DECIMAL(28,12)) AS sxy
      |      FROM pts GROUP BY beta),
      |fit AS (SELECT beta,
      |               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b,
      |               sx, sy, n FROM m),
      |fit2 AS (SELECT beta, b,
      |                (CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS a
      |         FROM fit),
      |res AS (SELECT pts.beta, a, b,
      |               CAST(sum(CAST(floor((CAST(y AS DOUBLE) - a - b * CAST(x AS DOUBLE))
      |                    * (CAST(y AS DOUBLE) - a - b * CAST(x AS DOUBLE)) * 1000000 + 0.5)
      |                    / 1000000 AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS sse
      |        FROM pts JOIN fit2 ON pts.beta = fit2.beta
      |        GROUP BY pts.beta, a, b),
      |best AS (SELECT beta AS best_beta FROM res ORDER BY sse ASC, beta ASC LIMIT 1)
      |SELECT beta,
      |       floor(-b * 1000000 + 0.5) / 1000000 AS s_exponent,
      |       floor(a * 1000000 + 0.5) / 1000000 AS intercept,
      |       CAST(sse AS DOUBLE) AS sse,
      |       beta = best_beta AS is_best
      |FROM res, best ORDER BY beta""".stripMargin

  // x302: x99's p6 matrix, then 8 unrolled iterations — per-term products
  // round6 to DECIMAL, EXACT sums, re-round per entry (the quantized
  // orbit both engines walk identically). States = from ∪ to with an
  // absorbing self-loop for sinks (advice r11 — mirrors the Spark side).
  val x302: String = {
    val iter = (0 until 8).map { i =>
      s"""v${i + 1} AS (SELECT t AS s,
         |       CAST(floor(CAST(sum(CAST(floor(CAST(pi * p6 AS DOUBLE) * 1000000 + 0.5)
         |            / 1000000 AS DECIMAL(18,6))) AS DOUBLE) * 1000000 + 0.5) / 1000000
         |            AS DECIMAL(18,6)) AS pi
         |FROM v$i JOIN p ON v$i.s = p.f GROUP BY t)""".stripMargin
    }.mkString(",\n")
    s"""WITH sq AS (SELECT user_id, event_id, event_type,
       |              lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS to_type
       |           FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
       |tr AS (SELECT event_type AS f, to_type AS t, CAST(count(*) AS BIGINT) AS n
       |       FROM sq WHERE to_type IS NOT NULL GROUP BY 1, 2),
       |p0 AS (SELECT f, t, CAST(floor(CAST(n AS DOUBLE)
       |           / CAST(sum(n) OVER (PARTITION BY f) AS DOUBLE) * 1000000 + 0.5)
       |           / 1000000 AS DECIMAL(18,6)) AS p6 FROM tr),
       |states AS (SELECT DISTINCT f AS s FROM p0
       |           UNION SELECT DISTINCT t FROM p0),
       |p AS (SELECT f, t, p6 FROM p0
       |      UNION ALL
       |      SELECT s, s, CAST(1.0 AS DECIMAL(18,6)) FROM states
       |      WHERE s NOT IN (SELECT f FROM p0)),
       |k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM states),
       |v0 AS (SELECT s, CAST(floor(1.0 / CAST(k AS DOUBLE) * 1000000 + 0.5) / 1000000
       |           AS DECIMAL(18,6)) AS pi FROM states, k),
       |$iter
       |SELECT s AS event_type, CAST(pi AS DOUBLE) AS pi FROM v8
       |ORDER BY event_type""".stripMargin
  }

  // x303: the top-1k cut is the (count desc, token) total order; masses
  // exact longs; one division per source.
  val x303: String =
    """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w
      |            FROM documents WHERE text IS NOT NULL),
      |per AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY source, w),
      |top AS (SELECT w, 1 AS in_vocab FROM (SELECT w, sum(c) AS cw FROM per GROUP BY w)
      |        ORDER BY cw DESC, w LIMIT 1000)
      |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
      |       CAST(sum(CASE WHEN in_vocab IS NULL THEN c ELSE 0 END) AS BIGINT) AS n_oov,
      |       CAST(sum(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov_types,
      |       floor(CAST(sum(CASE WHEN in_vocab IS NULL THEN c ELSE 0 END) AS DOUBLE)
      |             / CAST(sum(c) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS oov_rate
      |FROM per LEFT JOIN top ON per.w = top.w
      |GROUP BY source ORDER BY source""".stripMargin

  // x304: exact-integer chi-square numerators — counts cast to HUGEINT
  // BEFORE any multiply (advice r11: a BIGINT o*nn raises here past
  // ~9.2e18 and would wrap silently in non-ANSI Spark; Spark mirrors
  // with DECIMAL(38,0) pre-multiply casts); one division per term,
  // round6, decimal sum.
  val x304: String =
    """WITH tok AS (SELECT source, w
      |            FROM (SELECT source, unnest(string_split(text, ' ')) AS w
      |                  FROM documents WHERE text IS NOT NULL)
      |            WHERE w IN ('the', 'a', 'of', 'to', 'and')),
      |per AS (SELECT source, w, CAST(count(*) AS BIGINT) AS o FROM tok GROUP BY source, w),
      |prof AS (SELECT w, CAST(sum(o) AS BIGINT) AS cw FROM per GROUP BY w),
      |ntot AS (SELECT CAST(sum(cw) AS BIGINT) AS nn FROM prof),
      |ns AS (SELECT source, CAST(sum(o) AS BIGINT) AS nsw FROM per GROUP BY source),
      |grid AS (SELECT g.source, g.nsw, g.w, g.cw, coalesce(per.o, 0) AS o
      |         FROM (SELECT ns.source, ns.nsw, prof.w, prof.cw FROM ns, prof) g
      |         LEFT JOIN per ON per.source = g.source AND per.w = g.w),
      |t AS (SELECT source, nsw,
      |             CAST(floor(CAST((CAST(o AS HUGEINT) * CAST(nn AS HUGEINT)
      |                       - CAST(nsw AS HUGEINT) * CAST(cw AS HUGEINT))
      |                  * (CAST(o AS HUGEINT) * CAST(nn AS HUGEINT)
      |                       - CAST(nsw AS HUGEINT) * CAST(cw AS HUGEINT)) AS DOUBLE)
      |                  / CAST(CAST(nsw AS HUGEINT) * CAST(cw AS HUGEINT) AS DOUBLE)
      |                  / CAST(nn AS DOUBLE)
      |                  * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS t6
      |      FROM grid, ntot)
      |SELECT source, min(nsw) AS n_stopwords,
      |       CAST(CAST(sum(t6) AS DECIMAL(28,6)) AS DOUBLE) AS chi2,
      |       CAST(4 AS BIGINT) AS df
      |FROM t GROUP BY source ORDER BY source""".stripMargin

  // x305: the cumulative walk runs over the alphabet-cardinality frame;
  // the 99.95% cut is the integer inequality 10000*cum >= 9995*N.
  val x305: String =
    """WITH ch AS (SELECT ch, CAST(count(*) AS BIGINT) AS c
      |            FROM (SELECT unnest(string_split(replace(text, ' ', ''), '')) AS ch
      |                  FROM documents WHERE text IS NOT NULL)
      |            WHERE ch <> '' GROUP BY ch),
      |n AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM ch),
      |walk AS (SELECT ch, c,
      |                CAST(sum(c) OVER (ORDER BY c DESC, ch
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |                CAST(row_number() OVER (ORDER BY c DESC, ch) AS BIGINT) AS rk
      |         FROM ch),
      |cut AS (SELECT CAST(min(rk) AS BIGINT) AS charset_size
      |        FROM walk, n WHERE 10000 * cum >= 9995 * nn)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM walk) AS alphabet_size,
      |       nn AS n_chars, charset_size,
      |       floor(CAST(w2.cum AS DOUBLE) / CAST(nn AS DOUBLE) * 1000000 + 0.5)
      |         / 1000000 AS coverage,
      |       nn - w2.cum AS dropped_mass
      |FROM n, cut JOIN walk w2 ON w2.rk = charset_size""".stripMargin

  // x106 (oracle since round-13, verdict r12 #2): every declared column
  // re-derived from the SyntheticMedia generator formulas alone — the
  // x204/x235/x236 trick over all five asset kinds at once. decode_checksum:
  // image Σ(r+g+b) over the (w×h) pixel grid, audio Σ|sample| over the PCM
  // closed form, video the same pixel sum over sampled frames 0 and 2
  // (seed = id·100+f), opaque the exact payload length 4·(16+digits(id)),
  // missing NULL. The Spark side computes the same integers THROUGH the
  // real ImageIO / javax.sound / RIFF-walk decoders.
  val x106: String =
    """WITH ids AS (SELECT range AS id FROM range(0, 20)),
      |gx AS (SELECT range AS x FROM range(0, 13)),
      |gy AS (SELECT range AS y FROM range(0, 9)),
      |img AS (
      |  SELECT id, CAST(SUM((gx.x * 7 + id * 13 + 3) % 256
      |                    + (gy.y * 11 + id * 5 + 7) % 256
      |                    + (gx.x + gy.y + id * 3) % 256) AS BIGINT) AS cs
      |  FROM ids JOIN gx ON gx.x < 8 + (id // 5) % 5
      |           JOIN gy ON gy.y < 6 + (id // 5) % 3
      |  WHERE id % 5 = 0 GROUP BY id),
      |aud AS (
      |  SELECT id, CAST(SUM(ABS((i.range * 13 + id * 7) % 2001 - 1000)) AS BIGINT) AS cs
      |  FROM ids JOIN range(0, 500) i ON i.range < 400 + (id * 7) % 100
      |  WHERE id % 5 = 1 GROUP BY id),
      |vid AS (
      |  SELECT id, CAST(SUM((gx.x * 7 + (id * 100 + f.f) * 13 + 3) % 256
      |                    + (gy.y * 11 + (id * 100 + f.f) * 5 + 7) % 256
      |                    + (gx.x + gy.y + (id * 100 + f.f) * 3) % 256) AS BIGINT) AS cs
      |  FROM ids CROSS JOIN (SELECT unnest([0, 2]) AS f) f
      |           JOIN gx ON gx.x < 8 JOIN gy ON gy.y < 6
      |  WHERE id % 5 = 2 GROUP BY id),
      |opq AS (SELECT id, CAST(4 * (16 + length(CAST(id AS VARCHAR))) AS BIGINT) AS cs
      |        FROM ids WHERE id % 5 = 3)
      |SELECT id AS asset_id,
      |       CASE id % 5 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
      |            WHEN 2 THEN 'video' WHEN 3 THEN 'opaque'
      |            ELSE 'missing' END AS kind,
      |       CASE id % 5 WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
      |            WHEN 2 THEN 'video/avi'
      |            WHEN 3 THEN 'application/octet-stream' END AS mime_after,
      |       CASE WHEN id % 5 = 0 THEN CAST(4 AS BIGINT) END AS w_after,
      |       CASE WHEN id % 5 = 0 THEN CAST(4 AS BIGINT) END AS h_after,
      |       CAST(CASE WHEN id % 5 = 2 THEN 2 ELSE 0 END AS BIGINT) AS n_frames_sampled,
      |       coalesce(img.cs, aud.cs, vid.cs, opq.cs) AS decode_checksum
      |FROM ids LEFT JOIN img USING (id) LEFT JOIN aud USING (id)
      |         LEFT JOIN vid USING (id) LEFT JOIN opq USING (id)
      |ORDER BY asset_id""".stripMargin

  // x135 (oracle since round-13, verdict r12 #2): DuckDB re-reads the SAME
  // 16 files x135 wrote (fixed dir, deterministic bytes) via read_blob and
  // independently recomputes size and digest. The pinned digest is
  // md5(hex(content)) on BOTH engines — DuckDB 1.0 has no md5 over raw
  // BLOBs, and both hex() functions are uppercase, so equality of the
  // hex-md5 is equality of the bytes. match_ok is the Spark side's REAL
  // generator-vs-readback comparison; here it is the literal expectation.
  val x135: String =
    s"""WITH b AS (
      |  SELECT CAST(regexp_extract(filename, 'asset_([0-9]+)\\.bin$$', 1) AS BIGINT) AS asset_id,
      |         CAST(size AS BIGINT) AS n_bytes,
      |         md5(hex(content)) AS payload_md5
      |  FROM read_blob('${MultimodalQueries.X135Dir}/*.bin'))
      |SELECT asset_id,
      |       CASE asset_id % 5 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
      |            WHEN 2 THEN 'video' WHEN 3 THEN 'opaque' END AS kind,
      |       n_bytes, payload_md5, TRUE AS match_ok
      |FROM b ORDER BY asset_id""".stripMargin

  // x262 (oracle since round-14, verdict r13 #5 — the x135 discipline,
  // content-addressed): DuckDB re-reads the per-source deflate artifacts
  // x262 published and takes `deflate_bytes` from the FILE's
  // octet_length, while n_docs/raw_bytes are recomputed from the
  // documents table alone (strlen = UTF-8 bytes = Spark's
  // getBytes("UTF-8").length); the join keys (upper-hex source — both
  // engines' hex() is uppercase — exact doc count, exact raw byte sum)
  // select exactly the current corpus's files out of whatever other
  // SFs/vintages coexist in the fixed dir. A drifted compressor, a
  // truncated write, or a stale artifact fails the join or the hash.
  val x262: String =
    s"""WITH f AS (
      |  SELECT regexp_extract(filename,
      |           'x262_([0-9A-F]*)_([0-9]+)_([0-9]+)\\.bin$$', 1) AS hexsrc,
      |         CAST(regexp_extract(filename,
      |           'x262_([0-9A-F]*)_([0-9]+)_([0-9]+)\\.bin$$', 2) AS BIGINT) AS n_docs_f,
      |         CAST(regexp_extract(filename,
      |           'x262_([0-9A-F]*)_([0-9]+)_([0-9]+)\\.bin$$', 3) AS BIGINT) AS raw_f,
      |         CAST(octet_length(content) AS BIGINT) AS deflate_bytes
      |  FROM read_blob('${LlmQueries.X262Dir}/x262_*.bin')),
      |d AS (
      |  SELECT source, upper(hex(source)) AS hexsrc,
      |         CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(strlen(text)) AS BIGINT) AS raw_bytes
      |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
      |  GROUP BY 1, 2)
      |SELECT d.source, d.n_docs, d.raw_bytes, f.deflate_bytes,
      |       floor(CAST(f.deflate_bytes AS DOUBLE) / CAST(d.raw_bytes AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS ratio
      |FROM d JOIN f ON f.hexsrc = d.hexsrc AND f.n_docs_f = d.n_docs
      |              AND f.raw_f = d.raw_bytes
      |ORDER BY d.source""".stripMargin

  // x112: Morton interleave as a list-comprehension sum — identical exact
  // bit arithmetic to the Spark aggregate (epoch_ns//day matches `ts div`
  // on the eventsRaw ns-long view; all values positive so // truncates).
  val x112: String =
    """WITH b AS (
      |  SELECT user_id % 65536 AS u,
      |         (epoch_ns(ts) // 86400000000000) % 65536 AS d
      |  FROM events),
      |e AS (SELECT min(u) AS u0, max(u) AS u1, min(d) AS d0, max(d) AS d1 FROM b),
      |n AS (
      |  SELECT u, d,
      |         ((u - u0) * 65535) // greatest(1, u1 - u0) AS nu,
      |         ((d - d0) * 65535) // greatest(1, d1 - d0) AS nd
      |  FROM b, e),
      |z AS (
      |  SELECT u, d,
      |         CAST(list_sum([((nu >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i))
      |                      + ((nd >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i + 1))
      |                        for i in range(0, 16)]) AS BIGINT) AS z
      |  FROM n)
      |SELECT z // 1048576 AS zbucket,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       min(u) AS min_u, max(u) AS max_u,
      |       min(d) AS min_d, max(d) AS max_d
      |FROM z
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  // ===== round 12 (x306–x326) =====

  // shared CTE: per-(source, token) exact counts — the richness family's
  // head (x306/x307/x318).
  private val srcTokCte: String =
    """grp AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
      |        FROM (SELECT source, unnest(string_split(text, ' ')) AS w
      |              FROM documents WHERE text IS NOT NULL)
      |        GROUP BY source, w)""".stripMargin

  // x306: counts exact; Σc² in HUGEINT (mirror of Spark's DECIMAL(38,0)
  // cast-before-multiply); two divisions, round6.
  val x306: String =
    s"""WITH $srcTokCte,
      |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_types,
      |             CAST(sum(c) AS BIGINT) AS n_tokens,
      |             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
      |             CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS v2,
      |             sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS s2
      |      FROM grp GROUP BY source)
      |SELECT source, n_types, n_tokens, v1, v2,
      |       floor(CAST(v1 AS DOUBLE) / CAST(n_types AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS hapax_share,
      |       floor(10000.0 * (CAST(s2 AS DOUBLE) - CAST(n_tokens AS DOUBLE))
      |             / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))
      |             * 1000000 + 0.5) / 1000000 AS yule_k
      |FROM g ORDER BY source""".stripMargin

  // x307: Σc(c−1) and N(N−1) in HUGEINT; λ and its inverse each ONE
  // division of the exact pair; NULL when the collision sum is 0.
  val x307: String =
    s"""WITH $srcTokCte,
      |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_types,
      |             CAST(sum(c) AS BIGINT) AS n_tokens,
      |             CAST(max(c) AS BIGINT) AS cmax,
      |             sum(CAST(c AS HUGEINT) * (CAST(c AS HUGEINT) - 1)) AS coll
      |      FROM grp GROUP BY source)
      |SELECT source, n_types, n_tokens,
      |       CASE WHEN coll > 0 THEN
      |         floor(CAST(coll AS DOUBLE)
      |               / CAST(CAST(n_tokens AS HUGEINT) * (CAST(n_tokens AS HUGEINT) - 1) AS DOUBLE)
      |               * 1000000 + 0.5) / 1000000 END AS simpson,
      |       CASE WHEN coll > 0 THEN
      |         floor(CAST(CAST(n_tokens AS HUGEINT) * (CAST(n_tokens AS HUGEINT) - 1) AS DOUBLE)
      |               / CAST(coll AS DOUBLE) * 1000000 + 0.5) / 1000000 END AS eff_types,
      |       floor(CAST(cmax AS DOUBLE) / CAST(n_tokens AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS berger_parker
      |FROM g ORDER BY source""".stripMargin

  // shared CTE: the three binary raters (mirrors Round12Queries.raters).
  private val ratersCte: String =
    """rt AS (SELECT doc_id,
      |              CASE WHEN n_chars >= 120 THEN 1 ELSE 0 END AS r_len,
      |              CASE WHEN len(string_split(text, ' ')) >= 24 THEN 1 ELSE 0 END AS r_tok,
      |              CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS r_lang
      |       FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL)""".stripMargin

  // x308: integer cells; squared difference in HUGEINT; NULL when no
  // discordant pairs.
  val x308: String =
    s"""WITH $ratersCte,
      |g AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |             CAST(sum(CASE WHEN r_len = 1 AND r_tok = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
      |             CAST(sum(CASE WHEN r_len = 1 AND r_tok = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
      |             CAST(sum(CASE WHEN r_len = 0 AND r_tok = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
      |             CAST(sum(CASE WHEN r_len = 0 AND r_tok = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00
      |      FROM rt)
      |SELECT n_docs, n11, n10, n01, n00,
      |       CASE WHEN n10 + n01 > 0 THEN
      |         floor(CAST((CAST(n10 AS HUGEINT) - CAST(n01 AS HUGEINT))
      |                    * (CAST(n10 AS HUGEINT) - CAST(n01 AS HUGEINT)) AS DOUBLE)
      |               / CAST(n10 + n01 AS DOUBLE) * 1000000 + 0.5) / 1000000 END AS mcnemar
      |FROM g""".stripMargin

  // x309: x304's exact-numerator chain per OBSERVED cell + the closed
  // form for the zero cells (Σ over full grid of E = N); HUGEINT
  // pre-multiply casts; V one sqrt, NULL when min(r−1, c−1) = 0.
  val x309: String =
    """WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_sl
      |               FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
      |               GROUP BY source, lang),
      |rm AS (SELECT source, CAST(sum(n_sl) AS BIGINT) AS ns FROM cells GROUP BY source),
      |cm AS (SELECT lang, CAST(sum(n_sl) AS BIGINT) AS nl FROM cells GROUP BY lang),
      |tot AS (SELECT CAST(sum(n_sl) AS BIGINT) AS n,
      |               CAST(count(DISTINCT source) AS BIGINT) AS r,
      |               CAST(count(DISTINCT lang) AS BIGINT) AS c FROM cells),
      |t AS (SELECT CAST(sum(CAST(floor(
      |               CAST((CAST(n_sl AS HUGEINT) * CAST(n AS HUGEINT)
      |                     - CAST(ns AS HUGEINT) * CAST(nl AS HUGEINT))
      |                    * (CAST(n_sl AS HUGEINT) * CAST(n AS HUGEINT)
      |                       - CAST(ns AS HUGEINT) * CAST(nl AS HUGEINT)) AS DOUBLE)
      |               / CAST(CAST(ns AS HUGEINT) * CAST(nl AS HUGEINT) AS DOUBLE)
      |               / CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000
      |               AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS chi_obs,
      |             CAST(sum(CAST(floor(
      |               CAST(CAST(ns AS HUGEINT) * CAST(nl AS HUGEINT) AS DOUBLE)
      |               / CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000
      |               AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS e_obs,
      |             CAST(min(n) AS BIGINT) AS n, CAST(min(r) AS BIGINT) AS r,
      |             CAST(min(c) AS BIGINT) AS c
      |      FROM cells JOIN rm USING (source) JOIN cm USING (lang), tot)
      |SELECT n, r, c,
      |       floor((CAST(chi_obs AS DOUBLE) + CAST(n AS DOUBLE) - CAST(e_obs AS DOUBLE))
      |             * 1000000 + 0.5) / 1000000 AS chi2,
      |       CASE WHEN least(r - 1, c - 1) > 0 THEN
      |         floor(sqrt((CAST(chi_obs AS DOUBLE) + CAST(n AS DOUBLE) - CAST(e_obs AS DOUBLE))
      |                    / (CAST(n AS DOUBLE) * CAST(least(r - 1, c - 1) AS DOUBLE)))
      |               * 1000000 + 0.5) / 1000000 END AS cramers_v
      |FROM t""".stripMargin

  // x310: ln of the exact-integer ratio (HUGEINT products), weighted by
  // the exact cell share, round6 per term, DECIMAL sum.
  val x310: String =
    """WITH cells AS (SELECT source,
      |                      CAST(CASE WHEN n_chars >= 120 THEN 1 ELSE 0 END AS BIGINT) AS flag,
      |                      CAST(count(*) AS BIGINT) AS n_sq
      |               FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
      |               GROUP BY 1, 2),
      |ms AS (SELECT source, CAST(sum(n_sq) AS BIGINT) AS ns FROM cells GROUP BY source),
      |mq AS (SELECT flag, CAST(sum(n_sq) AS BIGINT) AS nq FROM cells GROUP BY flag),
      |tot AS (SELECT CAST(sum(n_sq) AS BIGINT) AS n FROM cells),
      |t AS (SELECT source, flag, n_sq,
      |             CAST(floor((CAST(n_sq AS DOUBLE) / CAST(n AS DOUBLE))
      |                  * ln(CAST(CAST(n_sq AS HUGEINT) * CAST(n AS HUGEINT) AS DOUBLE)
      |                       / CAST(CAST(ns AS HUGEINT) * CAST(nq AS HUGEINT) AS DOUBLE))
      |                  * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS t6
      |      FROM cells JOIN ms USING (source) JOIN mq USING (flag), tot),
      |mi AS (SELECT CAST(sum(t6) AS DECIMAL(28,6)) AS mi FROM t)
      |SELECT source, flag, n_sq, CAST(t6 AS DOUBLE) AS term,
      |       CAST(mi AS DOUBLE) AS mi_nats
      |FROM t, mi ORDER BY source, flag""".stripMargin

  // x311: the decile cut is integer arithmetic on the (c desc, w)
  // row_number; masses exact; the cumulative walk runs on the 10-row
  // frame.
  val x311: String =
    """WITH vocab AS (SELECT w, CAST(count(*) AS BIGINT) AS c
      |               FROM (SELECT unnest(string_split(text, ' ')) AS w
      |                     FROM documents WHERE text IS NOT NULL)
      |               GROUP BY w),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS v, CAST(sum(c) AS BIGINT) AS n FROM vocab),
      |rk AS (SELECT c, CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS r FROM vocab),
      |d AS (SELECT (10 * (r - 1)) // v + 1 AS decile,
      |             CAST(count(*) AS BIGINT) AS n_types,
      |             CAST(sum(c) AS BIGINT) AS mass,
      |             CAST(min(n) AS BIGINT) AS n
      |      FROM rk, tot GROUP BY 1)
      |SELECT decile, n_types, mass,
      |       CAST(sum(mass) OVER (ORDER BY decile
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_mass,
      |       floor(CAST(mass AS DOUBLE) / CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000
      |         AS mass_share,
      |       floor(CAST(sum(mass) OVER (ORDER BY decile
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |             / CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000 AS cum_share
      |FROM d ORDER BY decile""".stripMargin

  // shared CTE: the x208 daily series (micros-rounded values summed per
  // UTC day).
  private val dayCte: String =
    """day AS (
      |  SELECT ts_us // 86400000000 AS day, CAST(sum(v) AS BIGINT) AS x
      |  FROM (SELECT epoch_us(ts) AS ts_us,
      |               CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v
      |        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL)
      |  GROUP BY 1)""".stripMargin

  // x312: signs and run boundaries through two lag windows; E/Var/z one
  // float chain from exact longs, NULL when degenerate.
  val x312: String =
    s"""WITH $dayCte,
      |sg AS (SELECT day, CASE WHEN x > prev THEN 1 ELSE -1 END AS s
      |       FROM (SELECT day, x, lag(x, 1) OVER (ORDER BY day) AS prev FROM day)
      |       WHERE prev IS NOT NULL AND x <> prev),
      |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_plus,
      |             CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_minus,
      |             CAST(sum(CASE WHEN sp IS NOT NULL AND s <> sp THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_runs
      |      FROM (SELECT s, lag(s, 1) OVER (ORDER BY day) AS sp FROM sg))
      |SELECT n, n_plus, n_minus, n_runs,
      |       floor((1.0 + 2.0 * CAST(n_plus AS DOUBLE) * CAST(n_minus AS DOUBLE)
      |              / CAST(n AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS expected_runs,
      |       CASE WHEN n > 1 AND n_plus > 0 AND n_minus > 0 THEN
      |         floor((2.0 * n_plus * n_minus * (2.0 * n_plus * n_minus - n))
      |               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
      |               * 1000000 + 0.5) / 1000000 END AS var_runs,
      |       CASE WHEN n > 1 AND n_plus > 0 AND n_minus > 0
      |                 AND (2.0 * n_plus * n_minus * (2.0 * n_plus * n_minus - n))
      |                     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) > 0
      |       THEN
      |         floor((CAST(n_runs AS DOUBLE)
      |                - (1.0 + 2.0 * CAST(n_plus AS DOUBLE) * CAST(n_minus AS DOUBLE) / CAST(n AS DOUBLE)))
      |               / sqrt((2.0 * n_plus * n_minus * (2.0 * n_plus * n_minus - n))
      |                      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
      |               * 1000000 + 0.5) / 1000000 END AS z
      |FROM g""".stripMargin

  // x313: x208's r_k verbatim (the quantized orbit), then the cumulative
  // DECIMAL term walk and one multiplication per m.
  val x313: String = {
    val m = (1 to 7).map(k => s"sum(d * d$k) AS num$k").mkString(", ")
    val leads = (1 to 7).map(k =>
      s"lead(d, $k) OVER (ORDER BY day) AS d$k").mkString(", ")
    val rows = (1 to 7).map(k =>
      s"""SELECT CAST($k AS BIGINT) AS lag,
         |       floor(CAST(num$k AS DOUBLE) / CAST(den AS DOUBLE)
         |             * 1000000 + 0.5) / 1000000 AS r FROM m""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH $dayCte,
       |g AS (SELECT CAST(count(*) AS BIGINT) AS nd, CAST(sum(x) AS BIGINT) AS sx
       |      FROM day),
       |dev AS (SELECT day, CAST(nd * x - sx AS HUGEINT) AS d FROM day, g),
       |led AS (SELECT day, d, $leads FROM dev),
       |m AS (SELECT sum(d * d) AS den, $m FROM led),
       |acf AS ($rows),
       |t AS (SELECT lag, r,
       |             CAST(floor(r * r / CAST(nd - lag AS DOUBLE)
       |                  * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS t6
       |      FROM acf, g),
       |cw AS (SELECT lag, r,
       |              CAST(sum(t6) OVER (ORDER BY lag
       |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |                   AS DECIMAL(28,6)) AS cum
       |       FROM t)
       |SELECT lag, r,
       |       floor(CAST(nd AS DOUBLE) * (CAST(nd AS DOUBLE) + 2.0)
       |             * CAST(cum AS DOUBLE) * 1000000 + 0.5) / 1000000 AS q
       |FROM cw, g ORDER BY lag""".stripMargin
  }

  // x323: S and ties exact integer counting (HUGEINT products); Sen's
  // slope is the LOWER MEDIAN of round6'd slopes — a position pick over
  // the (slope6, di, dj) total order, no interpolation.
  val x323: String =
    s"""WITH $dayCte,
      |pairs AS (SELECT a.day AS di, b.day AS dj, a.x AS xi, b.x AS xj
      |          FROM day a JOIN day b ON a.day < b.day),
      |sa AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
      |              CAST(sum(CASE WHEN xj > xi THEN 1 WHEN xj < xi THEN -1 ELSE 0 END) AS BIGINT) AS s
      |       FROM pairs),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM day),
      |ties AS (SELECT coalesce(sum(CAST(t AS HUGEINT) * (CAST(t AS HUGEINT) - 1)
      |                             * (CAST(t AS HUGEINT) * 2 + 5)), 0) AS tsum
      |         FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM day GROUP BY x)),
      |slope AS (SELECT floor(CAST(xj - xi AS DOUBLE) / CAST(dj - di AS DOUBLE)
      |                 * 1000000 + 0.5) / 1000000 AS sl6, di, dj FROM pairs),
      |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM slope),
      |med AS (SELECT sl6 AS sen_slope
      |        FROM (SELECT sl6, row_number() OVER (ORDER BY sl6, di, dj) AS rn
      |              FROM slope), mm
      |        WHERE rn = (m + 1) // 2)
      |SELECT n AS n_days, n_pairs, s AS s_stat,
      |       floor(CAST(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) - 1)
      |                  * (CAST(n AS HUGEINT) * 2 + 5) - tsum AS DOUBLE) / 18.0
      |             * 1000000 + 0.5) / 1000000 AS var_s,
      |       CASE WHEN CAST(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) - 1)
      |                      * (CAST(n AS HUGEINT) * 2 + 5) - tsum AS DOUBLE) / 18.0 > 0
      |       THEN floor(CAST(CASE WHEN s > 0 THEN s - 1 WHEN s < 0 THEN s + 1 ELSE 0 END AS DOUBLE)
      |                  / sqrt(CAST(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) - 1)
      |                              * (CAST(n AS HUGEINT) * 2 + 5) - tsum AS DOUBLE) / 18.0)
      |                  * 1000000 + 0.5) / 1000000 END AS z,
      |       sen_slope
      |FROM sa, nn, ties, med""".stripMargin

  // x324: value-unit day sums (exact DECIMAL of round6 values), centered
  // regressor; OLS moments exact; residuals round6 → squared as exact
  // DECIMAL; DW one division. Mirrors the Spark side unit choice (the
  // micros series' residuals square past 38 digits in both engines).
  val x324: String =
    """WITH dayr AS (
      |  SELECT ts_us // 86400000000 AS day,
      |         CAST(sum(v6) AS DECIMAL(28,6)) AS x
      |  FROM (SELECT epoch_us(ts) AS ts_us,
      |               CAST(floor(value * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS v6
      |        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL)
      |  GROUP BY 1),
      |dm AS (SELECT CAST(min(day) AS BIGINT) AS dmin FROM dayr),
      |day AS (SELECT day - dmin AS t, x FROM dayr, dm),
      |mom AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(t) AS BIGINT) AS st,
      |               CAST(sum(t * t) AS BIGINT) AS stt,
      |               CAST(sum(x) AS DECIMAL(38,6)) AS sx,
      |               CAST(sum(x * CAST(t AS DECIMAL(10,0))) AS DECIMAL(38,6)) AS stx
      |        FROM day),
      |fit AS (SELECT n,
      |               floor((CAST(n AS DOUBLE) * CAST(stx AS DOUBLE)
      |                      - CAST(st AS DOUBLE) * CAST(sx AS DOUBLE))
      |                     / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
      |                        - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
      |                     * 1000000 + 0.5) / 1000000 AS b6, st, sx
      |        FROM mom),
      |fit2 AS (SELECT n, b6,
      |                floor((CAST(sx AS DOUBLE) - b6 * CAST(st AS DOUBLE))
      |                      / CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000 AS a6
      |         FROM fit),
      |e AS (SELECT t, n, b6,
      |             CAST(floor((CAST(x AS DOUBLE) - a6 - b6 * CAST(t AS DOUBLE))
      |                  * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS e6
      |      FROM day, fit2),
      |w AS (SELECT n, b6, e6, lag(e6, 1) OVER (ORDER BY t) AS ep FROM e),
      |agg AS (SELECT CAST(min(n) AS BIGINT) AS n_days, min(b6) AS slope,
      |               CAST(sum(CAST(e6 AS DECIMAL(19,6)) * CAST(e6 AS DECIMAL(19,6)))
      |                    AS DECIMAL(38,12)) AS see,
      |               CAST(sum(CAST(e6 - ep AS DECIMAL(19,6))
      |                        * CAST(e6 - ep AS DECIMAL(19,6)))
      |                    AS DECIMAL(38,12)) AS sdd
      |        FROM w)
      |SELECT n_days, slope,
      |       CASE WHEN see > 0 THEN
      |         floor(CAST(sdd AS DOUBLE) / CAST(see AS DOUBLE)
      |               * 1000000 + 0.5) / 1000000 END AS dw
      |FROM agg""".stripMargin

  // x315: zero-filled (source, bucket) spine; per-term round6 → DECIMAL
  // sums; Hellinger clamps 1−BC at 0 before the sqrt.
  val x315: String =
    """WITH cells AS (SELECT source, CAST(n_chars AS BIGINT) // 100 AS b,
      |                      CAST(count(*) AS BIGINT) AS o
      |               FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL
      |               GROUP BY 1, 2),
      |ns AS (SELECT source, CAST(sum(o) AS BIGINT) AS n_s FROM cells GROUP BY source),
      |nb AS (SELECT b, CAST(sum(o) AS BIGINT) AS n_b FROM cells GROUP BY b),
      |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
      |grid AS (SELECT g.source, g.n_s, g.b, g.n_b, coalesce(cells.o, 0) AS o
      |         FROM (SELECT ns.source, ns.n_s, nb.b, nb.n_b FROM ns, nb) g
      |         LEFT JOIN cells ON cells.source = g.source AND cells.b = g.b),
      |t AS (SELECT source, n_s,
      |             CAST(floor(sqrt((CAST(o AS DOUBLE) / CAST(n_s AS DOUBLE))
      |                  * (CAST(n_b AS DOUBLE) / CAST(n AS DOUBLE)))
      |                  * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS bc6,
      |             CAST(floor(abs(CAST(o AS DOUBLE) / CAST(n_s AS DOUBLE)
      |                  - CAST(n_b AS DOUBLE) / CAST(n AS DOUBLE))
      |                  * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS tv6
      |      FROM grid, tot),
      |g AS (SELECT source, CAST(min(n_s) AS BIGINT) AS n_docs,
      |             CAST(sum(bc6) AS DECIMAL(28,6)) AS bc,
      |             CAST(sum(tv6) AS DECIMAL(28,6)) AS tv
      |      FROM t GROUP BY source)
      |SELECT source, n_docs,
      |       floor(CAST(bc AS DOUBLE) * 1000000 + 0.5) / 1000000 AS bhattacharyya,
      |       floor(sqrt(greatest(0.0, 1.0 - CAST(bc AS DOUBLE)))
      |             * 1000000 + 0.5) / 1000000 AS hellinger,
      |       floor(CAST(tv AS DOUBLE) / 2.0 * 1000000 + 0.5) / 1000000 AS tvd
      |FROM g ORDER BY source""".stripMargin

  // x316: the two cumulative walks over value-cardinality frames; pair
  // sums collapse to exact integers; HUGEINT for the n₁·n₂ product.
  val x316: String =
    """WITH sv AS (SELECT source, CAST(n_chars AS BIGINT) AS v,
      |                   CAST(count(*) AS BIGINT) AS a
      |            FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL
      |            GROUP BY 1, 2),
      |gv AS (SELECT v, CAST(sum(a) AS BIGINT) AS nv FROM sv GROUP BY v),
      |gc AS (SELECT v, nv, CAST(sum(nv) OVER (ORDER BY v
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumAll
      |       FROM gv),
      |sc AS (SELECT source, v, a, CAST(sum(a) OVER (PARTITION BY source ORDER BY v
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumOwn
      |       FROM sv),
      |tot AS (SELECT CAST(sum(nv) AS BIGINT) AS n FROM gv),
      |ng AS (SELECT source, CAST(sum(a) AS BIGINT) AS n_own FROM sv GROUP BY source),
      |j AS (SELECT sc.source, sc.a,
      |             (gc.cumAll - gc.nv) - (sc.cumOwn - sc.a) AS lessRest,
      |             (tot.n - gc.cumAll) - (ng.n_own - sc.cumOwn) AS greaterRest,
      |             ng.n_own, tot.n
      |      FROM sc JOIN gc USING (v) JOIN ng USING (source), tot),
      |g AS (SELECT source, CAST(min(n_own) AS BIGINT) AS n_own,
      |             CAST(min(n - n_own) AS BIGINT) AS n_rest,
      |             sum(CAST(a AS HUGEINT) * (CAST(lessRest AS HUGEINT)
      |                 - CAST(greaterRest AS HUGEINT))) AS num
      |      FROM j GROUP BY source)
      |SELECT source, n_own, n_rest,
      |       CASE WHEN n_rest > 0 THEN
      |         floor(CAST(num AS DOUBLE)
      |               / CAST(CAST(n_own AS HUGEINT) * CAST(n_rest AS HUGEINT) AS DOUBLE)
      |               * 1000000 + 0.5) / 1000000 END AS cliffs_delta
      |FROM g ORDER BY source""".stripMargin

  // x317: u is an exact dyadic rational from the first 13 md5 hex digits
  // — both engines order by the identical IEEE priority; τ and the
  // estimates round6 at the edges.
  val x317: String =
    """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
      |                     (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 1)
      |                       / 4503599627370496.0 AS u
      |              FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
      |q AS (SELECT doc_id, w, CAST(w AS DOUBLE) / u AS q FROM base),
      |top AS (SELECT doc_id, w, q, rn FROM
      |          (SELECT doc_id, w, q,
      |                  row_number() OVER (ORDER BY q DESC, doc_id) AS rn FROM q)
      |        WHERE rn <= 51),
      |tau AS (SELECT coalesce(min(floor(q * 1000000 + 0.5) / 1000000), 0.0) AS tau6
      |        FROM top WHERE rn = 51),
      |tt AS (SELECT CAST(sum(w) AS BIGINT) AS true_total FROM base),
      |samp AS (SELECT doc_id, w, q, tau6,
      |                floor(greatest(CAST(w AS DOUBLE), tau6) * 1000000 + 0.5) / 1000000 AS w_est6
      |         FROM top, tau WHERE rn <= 50),
      |et AS (SELECT CAST(sum(CAST(w_est6 AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS est FROM samp)
      |SELECT doc_id, w, floor(q * 1000000 + 0.5) / 1000000 AS priority,
      |       tau6 AS tau, w_est6 AS w_est, CAST(est AS DOUBLE) AS est_total,
      |       true_total
      |FROM samp, et, tt ORDER BY doc_id""".stripMargin

  // x319: collapse arithmetic only (ΣC(m,2) per group family); HUGEINT
  // products; NULL completeness when no true pairs.
  val x319: String =
    """WITH d AS (SELECT doc_id,
      |                  md5(array_to_string(list_sort(list_distinct(
      |                    string_split(text, ' '))), ' ')) AS fp,
      |                  substring(text, 1, 8) AS blk
      |           FROM documents WHERE text IS NOT NULL),
      |tr AS (SELECT CAST(sum(CAST(m AS HUGEINT) * (CAST(m AS HUGEINT) - 1) // 2) AS HUGEINT) AS true_pairs,
      |              CAST(sum(m) AS BIGINT) AS n_docs
      |       FROM (SELECT CAST(count(*) AS BIGINT) AS m FROM d GROUP BY fp)),
      |ca AS (SELECT CAST(sum(CAST(c AS HUGEINT) * (CAST(c AS HUGEINT) - 1) // 2) AS HUGEINT) AS caught_pairs
      |       FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM d GROUP BY fp, blk)),
      |cd AS (SELECT CAST(sum(CAST(nb AS HUGEINT) * (CAST(nb AS HUGEINT) - 1) // 2) AS HUGEINT) AS cand_pairs
      |       FROM (SELECT CAST(count(*) AS BIGINT) AS nb FROM d GROUP BY blk))
      |SELECT n_docs, CAST(true_pairs AS BIGINT) AS true_pairs,
      |       CAST(caught_pairs AS BIGINT) AS caught_pairs,
      |       CASE WHEN true_pairs > 0 THEN
      |         floor(CAST(caught_pairs AS DOUBLE) / CAST(true_pairs AS DOUBLE)
      |               * 1000000 + 0.5) / 1000000 END AS pair_completeness,
      |       CAST(cand_pairs AS BIGINT) AS cand_pairs,
      |       floor((1.0 - CAST(cand_pairs AS DOUBLE)
      |              / CAST(CAST(n_docs AS HUGEINT) * (CAST(n_docs AS HUGEINT) - 1) // 2 AS DOUBLE))
      |             * 1000000 + 0.5) / 1000000 AS reduction_ratio
      |FROM tr, ca, cd""".stripMargin

  // x320: three gram collapses, each giving (distinct, total) per source.
  val x320: String = {
    def one(n: Int): String =
      if (n == 1)
        """SELECT source, CAST(1 AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS n_total,
          |       CAST(count(*) AS BIGINT) AS n_distinct,
          |       floor(CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
          |             * 1000000 + 0.5) / 1000000 AS distinct_ratio
          |FROM (SELECT source, w, CAST(count(*) AS BIGINT) AS c
          |      FROM (SELECT source, unnest(string_split(text, ' ')) AS w
          |            FROM documents WHERE text IS NOT NULL)
          |      GROUP BY source, w)
          |GROUP BY source""".stripMargin
      else {
        val parts = (0 until n).map(k => s"toks[i+$k]").mkString(", ")
        s"""SELECT source, CAST($n AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS n_total,
           |       CAST(count(*) AS BIGINT) AS n_distinct,
           |       floor(CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
           |             * 1000000 + 0.5) / 1000000 AS distinct_ratio
           |FROM (SELECT source, gram, CAST(count(*) AS BIGINT) AS c
           |      FROM (SELECT source,
           |                   unnest(list_transform(range(1, len(toks) - ${n - 2}),
           |                          i -> concat_ws(' ', $parts))) AS gram
           |            FROM (SELECT source, string_split(text, ' ') AS toks
           |                  FROM documents WHERE text IS NOT NULL))
           |      GROUP BY source, gram)
           |GROUP BY source""".stripMargin
      }
    s"""SELECT * FROM (
       |${one(1)}
       |UNION ALL
       |${one(2)}
       |UNION ALL
       |${one(3)}
       |) ORDER BY source, n""".stripMargin
  }

  // x321: every rule an integer inequality — no float thresholds.
  val x321: String =
    """WITH d AS (SELECT source,
      |                  CAST(len(toks) AS BIGINT) AS nw,
      |                  CAST(length(replace(text, ' ', '')) AS BIGINT) AS lw,
      |                  CAST(len(list_filter(toks, x -> regexp_matches(x, '[^a-zA-Z]'))) AS BIGINT) AS nsym,
      |                  CAST(len(list_intersect(list_distinct(toks),
      |                       ['the', 'a', 'of', 'to', 'and'])) AS BIGINT) AS nstop
      |           FROM (SELECT source, text, string_split(text, ' ') AS toks
      |                 FROM documents WHERE text IS NOT NULL)),
      |p AS (SELECT source,
      |             CASE WHEN nw >= 50 AND nw <= 100000 THEN 1 ELSE 0 END AS p1,
      |             CASE WHEN 3 * nw <= lw AND lw <= 10 * nw THEN 1 ELSE 0 END AS p2,
      |             CASE WHEN 10 * nsym <= nw THEN 1 ELSE 0 END AS p3,
      |             CASE WHEN nstop >= 2 THEN 1 ELSE 0 END AS p4
      |      FROM d)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(p1) AS BIGINT) AS pass_words,
      |       CAST(sum(p2) AS BIGINT) AS pass_wordlen,
      |       CAST(sum(p3) AS BIGINT) AS pass_symbols,
      |       CAST(sum(p4) AS BIGINT) AS pass_stopwords,
      |       CAST(sum(p1 * p2 * p3 * p4) AS BIGINT) AS pass_all,
      |       floor(CAST(sum(p1 * p2 * p3 * p4) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS pass_rate
      |FROM p GROUP BY source ORDER BY source""".stripMargin

  // x322: x62's candidate/signature machinery plus the last-hex-digit
  // parity bits; the 1-bit error compares against the RAW Jaccard ratio
  // (mirrors the Spark side).
  val x322: String =
    s"""WITH $shingleCte,
      |shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
      |mh AS (
      |  SELECT doc_id, j, min(md5(concat(CAST(j AS VARCHAR), '|', shingle))) AS mh
      |  FROM sh, range(0, 16) s(j) GROUP BY doc_id, j),
      |band AS (
      |  SELECT doc_id, j // 4 AS band, md5(string_agg(mh, ',' ORDER BY j)) AS bh
      |  FROM mh GROUP BY doc_id, j // 4),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |  FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
      |sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
      |agree AS (
      |  SELECT c.d1, c.d2,
      |         CAST(sum(CASE WHEN ('0x' || substring(m1.mh, 32, 1))::BIGINT % 2
      |                            = ('0x' || substring(m2.mh, 32, 1))::BIGINT % 2
      |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_bits_eq,
      |         CAST(sum(CASE WHEN m1.mh = m2.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_full_eq
      |  FROM cand c
      |  JOIN mh m1 ON m1.doc_id = c.d1
      |  JOIN mh m2 ON m2.doc_id = c.d2 AND m2.j = m1.j
      |  GROUP BY 1, 2),
      |inter AS (
      |  SELECT c.d1, c.d2, count(*) AS n_common
      |  FROM cand c
      |  JOIN shd s1 ON s1.doc_id = c.d1
      |  JOIN shd s2 ON s2.doc_id = c.d2 AND s2.shingle = s1.shingle
      |  GROUP BY 1, 2)
      |SELECT a.d1 AS d1, a.d2 AS d2, n_bits_eq,
      |       floor((2.0 * CAST(n_bits_eq AS DOUBLE) / 16.0 - 1.0)
      |             * 1000000 + 0.5) / 1000000 AS est_1bit,
      |       floor(CAST(n_full_eq AS DOUBLE) / 16.0 * 1000000 + 0.5) / 1000000 AS est_full,
      |       floor(CAST(coalesce(i.n_common, 0) AS DOUBLE)
      |             / (z1.n + z2.n - coalesce(i.n_common, 0)) * 1000000 + 0.5)
      |         / 1000000 AS jaccard,
      |       floor(abs(2.0 * CAST(n_bits_eq AS DOUBLE) / 16.0 - 1.0
      |                 - CAST(coalesce(i.n_common, 0) AS DOUBLE)
      |                   / (z1.n + z2.n - coalesce(i.n_common, 0)))
      |             * 1000000 + 0.5) / 1000000 AS abs_err_1bit
      |FROM agree a
      |LEFT JOIN inter i ON i.d1 = a.d1 AND i.d2 = a.d2
      |JOIN sizes z1 ON z1.doc_id = a.d1
      |JOIN sizes z2 ON z2.doc_id = a.d2
      |ORDER BY a.d1, a.d2""".stripMargin

  // x325: s6 one sqrt from exact moments; weights round6 → DECIMAL exact
  // sum; floors of identical doubles; largest-remainder by the
  // (remainder desc, source) total order against the exact deficit.
  val x325: String =
    """WITH mom AS (SELECT source, CAST(count(*) AS BIGINT) AS nh,
      |                    CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS sx,
      |                    sum(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT)) AS sxx
      |             FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL
      |             GROUP BY source),
      |s AS (SELECT source, nh,
      |             floor(sqrt(greatest(0.0,
      |                   CAST(CAST(nh AS HUGEINT) * sxx
      |                        - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS DOUBLE)))
      |                   / CAST(nh AS DOUBLE) * 1000000 + 0.5) / 1000000 AS s6
      |      FROM mom),
      |w AS (SELECT source, nh, s6,
      |             CAST(floor(CAST(nh AS DOUBLE) * s6 * 1000000 + 0.5) / 1000000
      |                  AS DECIMAL(18,6)) AS wh
      |      FROM s),
      |tot AS (SELECT CAST(sum(wh) AS DECIMAL(28,6)) AS t FROM w),
      |raw AS (SELECT source, nh, s6,
      |               CASE WHEN t > 0 THEN 1000.0 * CAST(wh AS DOUBLE) / CAST(t AS DOUBLE)
      |                    ELSE 0.0 END AS rawAlloc
      |        FROM w, tot),
      |fl AS (SELECT source, nh, s6, CAST(floor(rawAlloc) AS BIGINT) AS fl,
      |              floor((rawAlloc - floor(rawAlloc)) * 1000000 + 0.5) / 1000000 AS rem6
      |       FROM raw),
      |d AS (SELECT 1000 - CAST(sum(fl) AS BIGINT) AS d FROM fl),
      |rk AS (SELECT source, nh, s6, fl, rem6,
      |              row_number() OVER (ORDER BY rem6 DESC, source) AS rk
      |       FROM fl)
      |SELECT source, nh AS n_docs, s6 AS stddev, fl AS alloc_floor,
      |       CAST(fl + CASE WHEN rk <= d THEN 1 ELSE 0 END AS BIGINT) AS alloc
      |FROM rk, d ORDER BY source""".stripMargin

  // x326: the x28 per-element cosine recipe against the 8 x52 centers;
  // best/second by the (cosine desc, cid) total order; per-vector s
  // round6 → DECIMAL means.
  val x326: String =
    """WITH sc AS (
      |  SELECT a.vec_id, c.vec_id AS cid,
      |    floor(sum(CAST(a.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE)) /
      |      (sqrt(sum(CAST(a.embedding[i.i] AS DOUBLE) * CAST(a.embedding[i.i] AS DOUBLE)))
      |       * sqrt(sum(CAST(c.embedding[i.i] AS DOUBLE) * CAST(c.embedding[i.i] AS DOUBLE))))
      |      * 1000000 + 0.5) / 1000000 AS ac
      |  FROM embeddings a JOIN embeddings c ON c.vec_id BETWEEN 1 AND 8,
      |       range(1, 65) i(i)
      |  GROUP BY 1, 2),
      |best AS (
      |  SELECT vec_id, ac AS c1, cid AS own FROM sc
      |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ac DESC, cid) = 1),
      |sec AS (
      |  SELECT sc.vec_id, max(sc.ac) AS c2
      |  FROM sc JOIN best ON sc.vec_id = best.vec_id AND sc.cid <> best.own
      |  GROUP BY sc.vec_id),
      |s AS (
      |  SELECT best.vec_id, best.own, best.c1, sec.c2,
      |         CASE WHEN sec.c2 < 1.0 THEN
      |           floor((best.c1 - sec.c2) / (1.0 - sec.c2) * 1000000 + 0.5) / 1000000
      |         END AS s6
      |  FROM best JOIN sec ON best.vec_id = sec.vec_id)
      |SELECT own AS cid, CAST(count(*) AS BIGINT) AS n_members,
      |       floor(CAST(CAST(sum(CAST(c1 AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS DOUBLE)
      |             / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS mean_own_cosine,
      |       floor(CAST(CAST(sum(CAST(c2 AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS DOUBLE)
      |             / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS mean_other_cosine,
      |       floor(CAST(CAST(sum(CAST(s6 AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS DOUBLE)
      |             / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS silhouette
      |FROM s GROUP BY own ORDER BY cid""".stripMargin

  // x318: V/V1/V2 exact; the V2=0 bias-corrected branch mirrors Spark.
  val x318: String =
    s"""WITH $srcTokCte,
      |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_types,
      |             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
      |             CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS v2
      |      FROM grp GROUP BY source)
      |SELECT source, n_types, v1, v2,
      |       CASE WHEN v2 > 0 THEN
      |         floor((CAST(n_types AS DOUBLE)
      |                + CAST(CAST(v1 AS HUGEINT) * CAST(v1 AS HUGEINT) AS DOUBLE)
      |                  / (CAST(v2 AS DOUBLE) * 2.0)) * 1000000 + 0.5) / 1000000
      |       ELSE
      |         floor((CAST(n_types AS DOUBLE)
      |                + CAST(CAST(v1 AS HUGEINT) * (CAST(v1 AS HUGEINT) - 1) AS DOUBLE) / 2.0)
      |               * 1000000 + 0.5) / 1000000
      |       END AS chao1
      |FROM g ORDER BY source""".stripMargin

  // x314: G totals and L moments from one scan; HUGEINT squares; NULL
  // when the denominator collapses.
  val x314: String =
    s"""WITH $ratersCte,
      |g AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |             CAST(sum(r_len) AS BIGINT) AS g_len,
      |             CAST(sum(r_tok) AS BIGINT) AS g_tok,
      |             CAST(sum(r_lang) AS BIGINT) AS g_lang,
      |             CAST(sum(r_len + r_tok + r_lang) AS BIGINT) AS sl,
      |             sum(CAST(r_len + r_tok + r_lang AS HUGEINT)
      |                 * CAST(r_len + r_tok + r_lang AS HUGEINT)) AS sl2
      |      FROM rt)
      |SELECT n_docs, g_len, g_tok, g_lang,
      |       CASE WHEN 3 * CAST(sl AS HUGEINT) - sl2 > 0 THEN
      |         floor(CAST(2 * (3 * (CAST(g_len AS HUGEINT) * CAST(g_len AS HUGEINT)
      |                              + CAST(g_tok AS HUGEINT) * CAST(g_tok AS HUGEINT)
      |                              + CAST(g_lang AS HUGEINT) * CAST(g_lang AS HUGEINT))
      |                         - CAST(sl AS HUGEINT) * CAST(sl AS HUGEINT)) AS DOUBLE)
      |               / CAST(3 * CAST(sl AS HUGEINT) - sl2 AS DOUBLE)
      |               * 1000000 + 0.5) / 1000000 END AS cochran_q
      |FROM g""".stripMargin

  // x327: per-doc disagreement n1(3−n1)/2 exact; one division of HUGEINT
  // products; NULL when unanimous.
  val x327: String =
    s"""WITH $ratersCte,
      |d AS (SELECT r_len + r_tok + r_lang AS n1 FROM rt),
      |g AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |             CAST(sum(n1) AS BIGINT) AS p1,
      |             CAST(sum(n1 * (3 - n1) // 2) AS BIGINT) AS s
      |      FROM d)
      |SELECT n_docs, CAST(3 * n_docs AS BIGINT) AS n_ratings, p1 AS n_pass,
      |       s AS s_disagree,
      |       CASE WHEN CAST(p1 AS HUGEINT) * (3 * n_docs - p1) > 0 THEN
      |         floor((1.0 - CAST((CAST(3 * n_docs AS HUGEINT) - 1) * s AS DOUBLE)
      |                / CAST(CAST(p1 AS HUGEINT) * (3 * n_docs - p1) AS DOUBLE))
      |               * 1000000 + 0.5) / 1000000 END AS alpha
      |FROM g""".stripMargin

  // x328: the x317 dyadic u under a 'g:' salt; keys QUANTIZED before
  // ranking (both engines rank identical round6 values).
  val x328: String =
    """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
      |                     (('0x' || substring(md5('g:' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 1)
      |                       / 4503599627370496.0 AS u
      |              FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
      |g AS (SELECT doc_id, w,
      |             floor((ln(CAST(w AS DOUBLE)) - ln(-ln(u))) * 1000000 + 0.5)
      |               / 1000000 AS g6
      |      FROM base)
      |SELECT CAST(row_number() OVER (ORDER BY g6 DESC, doc_id) AS BIGINT) AS rank,
      |       doc_id, w, g6 AS gumbel_key
      |FROM g ORDER BY g6 DESC, doc_id LIMIT 20""".stripMargin

  // x329: per-source row_number ranks; cut values exact order statistics;
  // winsorized clamps, trimmed drops; exact sums.
  val x329: String =
    """WITH d AS (SELECT source, doc_id, CAST(n_chars AS BIGINT) AS x
      |           FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL),
      |rk AS (SELECT source, x,
      |              CAST(row_number() OVER (PARTITION BY source ORDER BY x, doc_id) AS BIGINT) AS r
      |       FROM d),
      |c AS (SELECT source, CAST(count(*) AS BIGINT) AS n, CAST(count(*) // 10 AS BIGINT) AS k
      |      FROM d GROUP BY source),
      |b AS (SELECT rk.source, min(x) AS lo, max(x) AS hi
      |      FROM rk JOIN c USING (source)
      |      WHERE r = k + 1 OR r = n - k GROUP BY rk.source)
      |SELECT rk.source, min(n) AS n_docs, min(k) AS k_trim,
      |       CAST(min(lo) AS BIGINT) AS lo_cut, CAST(max(hi) AS BIGINT) AS hi_cut,
      |       floor(CAST(sum(CASE WHEN r > k AND r <= n - k THEN x ELSE 0 END) AS DOUBLE)
      |             / CAST(min(n) - 2 * min(k) AS DOUBLE) * 1000000 + 0.5) / 1000000
      |         AS trimmed_mean,
      |       floor(CAST(sum(CASE WHEN r <= k THEN lo
      |                           WHEN r > n - k THEN hi ELSE x END) AS DOUBLE)
      |             / CAST(min(n) AS DOUBLE) * 1000000 + 0.5) / 1000000
      |         AS winsorized_mean
      |FROM rk JOIN c USING (source) JOIN b USING (source)
      |GROUP BY rk.source ORDER BY source""".stripMargin

  // x330: one division of exact integers (HUGEINT products).
  val x330: String =
    """WITH day AS (SELECT epoch_us(ts) // 86400000000 AS day,
      |                    CAST(count(*) AS BIGINT) AS c
      |             FROM events WHERE ts IS NOT NULL GROUP BY 1),
      |g AS (SELECT CAST(count(*) AS BIGINT) AS n_days, CAST(sum(c) AS BIGINT) AS n_events,
      |             sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS scc
      |      FROM day)
      |SELECT n_days, n_events,
      |       floor(CAST(n_events AS DOUBLE) / CAST(n_days AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS mean_per_day,
      |       floor(CAST(CAST(n_days AS HUGEINT) * scc
      |                  - CAST(n_events AS HUGEINT) * CAST(n_events AS HUGEINT) AS DOUBLE)
      |             / CAST(n_events AS DOUBLE) * 1000000 + 0.5) / 1000000 AS dispersion,
      |       floor(CAST(CAST(n_days AS HUGEINT) * scc
      |                  - CAST(n_events AS HUGEINT) * CAST(n_events AS HUGEINT) AS DOUBLE)
      |             / CAST(n_events AS DOUBLE) / CAST(n_days - 1 AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS vmr,
      |       CAST(n_days - 1 AS BIGINT) AS df
      |FROM g""".stripMargin

  // x331: (7o − N)²/(7N) per weekday, exact numerators, round6 → DECIMAL
  // sum; dow 0 = Monday ((epoch_day + 3) mod 7).
  val x331: String =
    """WITH obs AS (SELECT (epoch_us(ts) // 86400000000 + 3) % 7 AS dow,
      |                    CAST(count(*) AS BIGINT) AS o
      |             FROM events WHERE ts IS NOT NULL GROUP BY 1),
      |cells AS (SELECT CAST(sp.dow AS BIGINT) AS dow, coalesce(obs.o, 0) AS o
      |          FROM range(0, 7) sp(dow) LEFT JOIN obs ON obs.dow = sp.dow),
      |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
      |t AS (SELECT dow, o, n,
      |             CAST(floor(CAST((7 * CAST(o AS HUGEINT) - n)
      |                             * (7 * CAST(o AS HUGEINT) - n) AS DOUBLE)
      |                  / (7.0 * CAST(n AS DOUBLE)) * 1000000 + 0.5) / 1000000
      |                  AS DECIMAL(18,6)) AS t6
      |      FROM cells, tot),
      |chi AS (SELECT CAST(sum(t6) AS DECIMAL(28,6)) AS chi2d FROM t)
      |SELECT CAST(dow AS BIGINT) AS dow, o AS n_events,
      |       floor(CAST(o AS DOUBLE) / CAST(n AS DOUBLE) * 1000000 + 0.5)
      |         / 1000000 AS share,
      |       CAST(chi2d AS DOUBLE) AS chi2, CAST(6 AS BIGINT) AS df
      |FROM t, chi ORDER BY dow""".stripMargin

  // shared CTE tail: the x62 candidate pairs with sizes + intersections
  // (x332/x333 reuse).
  private val candCte: String =
    s"""$shingleCte,
      |shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
      |mh AS (
      |  SELECT doc_id, j, min(md5(concat(CAST(j AS VARCHAR), '|', shingle))) AS mh
      |  FROM sh, range(0, 16) s(j) GROUP BY doc_id, j),
      |band AS (
      |  SELECT doc_id, j // 4 AS band, md5(string_agg(mh, ',' ORDER BY j)) AS bh
      |  FROM mh GROUP BY doc_id, j // 4),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |  FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
      |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shd GROUP BY doc_id),
      |inter AS (
      |  SELECT c.d1, c.d2, CAST(count(*) AS BIGINT) AS n_common
      |  FROM cand c
      |  JOIN shd s1 ON s1.doc_id = c.d1
      |  JOIN shd s2 ON s2.doc_id = c.d2 AND s2.shingle = s1.shingle
      |  GROUP BY 1, 2),
      |pj AS (SELECT c.d1, c.d2, coalesce(i.n_common, 0) AS n_common,
      |              z1.n AS n1, z2.n AS n2
      |       FROM cand c
      |       LEFT JOIN inter i ON i.d1 = c.d1 AND i.d2 = c.d2
      |       JOIN sizes z1 ON z1.doc_id = c.d1
      |       JOIN sizes z2 ON z2.doc_id = c.d2)""".stripMargin

  // x332: the bin is the integer comparison (10·|∩|) div |∪|, capped at
  // 10; descending cumulative over the ≤11-row frame.
  val x332: String =
    s"""WITH $candCte,
      |hist AS (SELECT least((10 * n_common) // (n1 + n2 - n_common), 10) AS bin,
      |                CAST(count(*) AS BIGINT) AS n_pairs
      |         FROM pj GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS n FROM hist)
      |SELECT CAST(bin AS BIGINT) AS bin,
      |       floor(CAST(bin AS DOUBLE) / 10.0 * 1000000 + 0.5) / 1000000 AS tau_lo,
      |       n_pairs,
      |       CAST(sum(n_pairs) OVER (ORDER BY bin DESC
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |         AS pairs_at_or_above,
      |       floor(CAST(n_pairs AS DOUBLE) / CAST(n AS DOUBLE) * 1000000 + 0.5)
      |         / 1000000 AS share
      |FROM hist, tot ORDER BY bin""".stripMargin

  // x333: est_k from the FIRST k hashes; per-pair errors round6 →
  // DECIMAL means.
  val x333: String = {
    val ks = Seq(4, 8, 16).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS k, p.d1, p.d2,
         |       CAST(sum(CASE WHEN m1.mh = m2.mh THEN 1 ELSE 0 END) AS DOUBLE)
         |         / $k.0 AS est,
         |       CAST(min(p.n_common) AS DOUBLE)
         |         / CAST(min(p.n1 + p.n2 - p.n_common) AS DOUBLE) AS jac
         |FROM pj p
         |JOIN mh m1 ON m1.doc_id = p.d1 AND m1.j < $k
         |JOIN mh m2 ON m2.doc_id = p.d2 AND m2.j = m1.j
         |GROUP BY 1, 2, 3""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $candCte,
       |e AS ($ks),
       |t AS (SELECT k,
       |             CAST(floor(abs(est - jac) * 1000000 + 0.5) / 1000000
       |                  AS DECIMAL(18,6)) AS ae6,
       |             CAST(floor((est - jac) * 1000000 + 0.5) / 1000000
       |                  AS DECIMAL(18,6)) AS e6
       |      FROM e)
       |SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
       |       floor(CAST(CAST(sum(ae6) AS DECIMAL(28,6)) AS DOUBLE)
       |             / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS mae,
       |       floor(CAST(CAST(sum(e6) AS DECIMAL(28,6)) AS DOUBLE)
       |             / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS bias
       |FROM t GROUP BY k ORDER BY k""".stripMargin
  }

  // x334: HHI/CR4 on both bases; exact products; top-4 by the
  // (mass desc, source) total order.
  val x334: String = {
    def basis(name: String, mass: String): String =
      s"""SELECT '$name' AS basis, CAST(count(*) AS BIGINT) AS n_sources,
         |       CAST(sum(m) AS BIGINT) AS total,
         |       floor(CAST(sum(CAST(m AS HUGEINT) * CAST(m AS HUGEINT)) AS DOUBLE)
         |             / CAST(CAST(sum(m) AS HUGEINT) * CAST(sum(m) AS HUGEINT) AS DOUBLE)
         |             * 1000000 + 0.5) / 1000000 AS hhi,
         |       floor(CAST(CAST(sum(m) AS HUGEINT) * CAST(sum(m) AS HUGEINT) AS DOUBLE)
         |             / CAST(sum(CAST(m AS HUGEINT) * CAST(m AS HUGEINT)) AS DOUBLE)
         |             * 1000000 + 0.5) / 1000000 AS effective_sources,
         |       floor(CAST(sum(CASE WHEN rk <= 4 THEN m ELSE 0 END) AS DOUBLE)
         |             / CAST(sum(m) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS cr4
         |FROM (SELECT m, row_number() OVER (ORDER BY m DESC, source) AS rk
         |      FROM (SELECT source, CAST(sum($mass) AS BIGINT) AS m
         |            FROM d GROUP BY source))""".stripMargin
    s"""WITH d AS (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
       |           FROM documents WHERE source IS NOT NULL AND text IS NOT NULL)
       |SELECT * FROM (
       |${basis("docs", "1")}
       |UNION ALL
       |${basis("tokens", "nt")}
       |) ORDER BY basis""".stripMargin
  }

  // x335: positions exact ('0x' casts); the bit set is a DISTINCT set;
  // membership an exact semi-join; analytic rate one float chain.
  val x335: String =
    """WITH fps AS (SELECT DISTINCT md5(text) AS fp
      |             FROM documents WHERE text IS NOT NULL),
      |bits AS (SELECT DISTINCT
      |           ('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || fp), 1, 8))::BIGINT
      |             % 32768 AS p
      |         FROM fps, range(0, 3) s(i)),
      |nk AS (SELECT CAST(count(*) AS BIGINT) AS n_keys FROM fps),
      |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_bits_set FROM bits),
      |pp AS (SELECT id,
      |              ('0x' || substring(md5(CAST(i AS VARCHAR) || ':' ||
      |                ('probe:' || CAST(id AS VARCHAR))), 1, 8))::BIGINT % 32768 AS p
      |       FROM range(0, 1000) r(id), range(0, 3) s(i)),
      |hits AS (SELECT CAST(count(*) AS BIGINT) AS n_fp FROM
      |           (SELECT id FROM pp WHERE p IN (SELECT p FROM bits)
      |            GROUP BY id HAVING count(*) = 3))
      |SELECT n_keys, CAST(32768 AS BIGINT) AS m_bits, CAST(3 AS BIGINT) AS k_hashes,
      |       n_bits_set, n_fp AS n_false_positives,
      |       floor(CAST(n_fp AS DOUBLE) / 1000.0 * 1000000 + 0.5) / 1000000
      |         AS measured_fpr,
      |       floor(pow(1.0 - exp(-3.0 * CAST(n_keys AS DOUBLE) / 32768.0), 3.0)
      |             * 1000000 + 0.5) / 1000000 AS theoretical_fpr
      |FROM nk, nb, hits""".stripMargin

  // x336: component values round6 before ranking (the quantized orbit);
  // cut ranks integer arithmetic; coverage exact counting.
  val x336: String =
    """WITH vals AS (SELECT vec_id, CAST(i.i AS BIGINT) AS pos,
      |                     floor(CAST(embedding[i.i] AS DOUBLE) * 1000000 + 0.5)
      |                       / 1000000 AS v6
      |              FROM embeddings, range(1, 65) i(i)),
      |rk AS (SELECT pos, v6,
      |              CAST(row_number() OVER (PARTITION BY pos ORDER BY v6, vec_id) AS BIGINT) AS r
      |       FROM vals),
      |c AS (SELECT pos, CAST(count(*) AS BIGINT) AS n,
      |             greatest(1, CAST(count(*) // 100 AS BIGINT)) AS rLo,
      |             CAST(count(*) - count(*) // 100 AS BIGINT) AS rHi
      |      FROM vals GROUP BY pos),
      |b AS (SELECT rk.pos, min(v6) AS lo, max(v6) AS hi
      |      FROM rk JOIN c USING (pos)
      |      WHERE r = rLo OR r = rHi GROUP BY rk.pos)
      |SELECT rk.pos, min(n) AS n_values, min(lo) AS p01, max(hi) AS p99,
      |       floor(CAST(sum(CASE WHEN v6 >= lo AND v6 <= hi THEN 1 ELSE 0 END) AS DOUBLE)
      |             / CAST(min(n) AS DOUBLE) * 1000000 + 0.5) / 1000000
      |         AS clip_coverage
      |FROM rk JOIN c USING (pos) JOIN b USING (pos)
      |GROUP BY rk.pos ORDER BY pos""".stripMargin

  // x337: cumulative class counts over the value grid; weighted impurity
  // one float chain per threshold, round6; argmin by (g6, v).
  val x337: String =
    """WITH vals AS (SELECT CAST(n_chars AS BIGINT) AS v,
      |                     CAST(count(*) AS BIGINT) AS c,
      |                     CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS p
      |              FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL
      |              GROUP BY 1),
      |cum AS (SELECT v, c, p,
      |               CAST(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
      |                    AND CURRENT ROW) AS BIGINT) AS nL,
      |               CAST(sum(p) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
      |                    AND CURRENT ROW) AS BIGINT) AS pL
      |        FROM vals),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(sum(p) AS BIGINT) AS np FROM vals),
      |sc AS (SELECT v, nL, pL, n, np,
      |              floor((CAST(nL AS DOUBLE) *
      |                     (1.0 - (CAST(pL AS DOUBLE) / nL) * (CAST(pL AS DOUBLE) / nL)
      |                          - (1.0 - CAST(pL AS DOUBLE) / nL) * (1.0 - CAST(pL AS DOUBLE) / nL))
      |                   + CAST(n - nL AS DOUBLE) *
      |                     (1.0 - (CAST(np - pL AS DOUBLE) / (n - nL)) * (CAST(np - pL AS DOUBLE) / (n - nL))
      |                          - (1.0 - CAST(np - pL AS DOUBLE) / (n - nL)) * (1.0 - CAST(np - pL AS DOUBLE) / (n - nL))))
      |                    / CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000 AS g6
      |       FROM cum, tot WHERE nL < n)
      |SELECT n AS n_docs, np AS n_pos,
      |       floor((1.0 - (CAST(np AS DOUBLE) / n) * (CAST(np AS DOUBLE) / n)
      |              - (1.0 - CAST(np AS DOUBLE) / n) * (1.0 - CAST(np AS DOUBLE) / n))
      |             * 1000000 + 0.5) / 1000000 AS base_gini,
      |       v AS best_threshold, g6 AS split_gini, nL AS left_n, pL AS left_pos
      |FROM sc ORDER BY g6, v LIMIT 1""".stripMargin

  // x338: rides x104's component/split chain; (10o − wn)²/(10wn) exact
  // numerators; 3-cell DECIMAL sum.
  val x338: String =
    s"""WITH $componentCtes,
      |h AS (
      |  SELECT doc_id, component,
      |         ('0x' || substring(md5('split|' || CAST(component AS VARCHAR)), 1, 8))::BIGINT % 10 AS h
      |  FROM r),
      |asg AS (SELECT DISTINCT component,
      |               CASE WHEN h <= 7 THEN 'train' WHEN h = 8 THEN 'val' ELSE 'test' END AS split
      |        FROM h),
      |obs AS (SELECT split, CAST(count(*) AS BIGINT) AS o FROM asg GROUP BY split),
      |cells AS (SELECT sp.split, coalesce(obs.o, 0) AS o, sp.w
      |          FROM (VALUES ('train', CAST(8 AS BIGINT)), ('val', CAST(1 AS BIGINT)),
      |                       ('test', CAST(1 AS BIGINT))) sp(split, w)
      |          LEFT JOIN obs ON obs.split = sp.split),
      |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
      |t AS (SELECT split, o, w, n,
      |             CAST(floor(CAST((10 * CAST(o AS HUGEINT) - CAST(w AS HUGEINT) * n)
      |                             * (10 * CAST(o AS HUGEINT) - CAST(w AS HUGEINT) * n) AS DOUBLE)
      |                  / (10.0 * CAST(w AS DOUBLE) * CAST(n AS DOUBLE))
      |                  * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS t6
      |      FROM cells, tot),
      |chi AS (SELECT CAST(sum(t6) AS DECIMAL(28,6)) AS chi2d FROM t)
      |SELECT split, o AS n_components,
      |       floor(CAST(o AS DOUBLE) / CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000 AS share,
      |       floor(CAST(w AS DOUBLE) / 10.0 * 1000000 + 0.5) / 1000000 AS expected_share,
      |       CAST(chi2d AS DOUBLE) AS chi2, CAST(2 AS BIGINT) AS df
      |FROM t, chi ORDER BY split""".stripMargin

  // x339: crawl-order row_number; novel = min-doc_id-per-fingerprint
  // equality; integer decile cut.
  val x339: String =
    """WITH d AS (SELECT doc_id,
      |                  md5(array_to_string(list_sort(list_distinct(
      |                    string_split(text, ' '))), ' ')) AS fp
      |           FROM documents WHERE text IS NOT NULL),
      |fs AS (SELECT fp, CAST(min(doc_id) AS BIGINT) AS first_id FROM d GROUP BY fp),
      |rk AS (SELECT doc_id, fp, CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS r
      |       FROM d),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d)
      |SELECT (10 * (r - 1)) // n + 1 AS decile,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(CASE WHEN doc_id = first_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |       floor(CAST(sum(CASE WHEN doc_id = first_id THEN 1 ELSE 0 END) AS DOUBLE)
      |             / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS novelty_rate
      |FROM rk JOIN fs USING (fp), n
      |GROUP BY 1 ORDER BY decile""".stripMargin

  // x340: levenshtein on the banded candidates; integer bin edges.
  val x340: String =
    s"""WITH $candCte,
      |pr AS (SELECT CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev,
      |              CAST(greatest(length(da.text), length(db.text)) AS BIGINT) AS ml
      |       FROM cand
      |       JOIN documents da ON da.doc_id = cand.d1
      |       JOIN documents db ON db.doc_id = cand.d2),
      |hist AS (SELECT least((10 * lev) // ml, 10) AS bin,
      |                CAST(count(*) AS BIGINT) AS n_pairs
      |         FROM pr GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS n FROM hist)
      |SELECT CAST(bin AS BIGINT) AS bin,
      |       floor(CAST(bin AS DOUBLE) / 10.0 * 1000000 + 0.5) / 1000000 AS dist_lo,
      |       n_pairs,
      |       floor(CAST(n_pairs AS DOUBLE) / CAST(n AS DOUBLE) * 1000000 + 0.5)
      |         / 1000000 AS share
      |FROM hist, tot ORDER BY bin""".stripMargin

  // x341: add-one smoothed P and Q as exact rationals; ln of the exact
  // cross ratio (HUGEINT products); zero-filled source × bigram grid.
  val x341: String =
    """WITH big AS (SELECT source,
      |                    unnest(list_transform(range(1, len(toks)),
      |                           i -> concat_ws(' ', toks[i], toks[i+1]))) AS b
      |             FROM (SELECT source, string_split(text, ' ') AS toks
      |                   FROM documents WHERE text IS NOT NULL)),
      |sb AS (SELECT source, b, CAST(count(*) AS BIGINT) AS csb FROM big GROUP BY 1, 2),
      |cb AS (SELECT b, CAST(sum(csb) AS BIGINT) AS cbb FROM sb GROUP BY b),
      |ns AS (SELECT source, CAST(sum(csb) AS BIGINT) AS nns FROM sb GROUP BY source),
      |tot AS (SELECT CAST(sum(cbb) AS BIGINT) AS nn, CAST(count(*) AS BIGINT) AS vv FROM cb),
      |spine AS (SELECT ns.source, ns.nns, cb.b, cb.cbb, coalesce(sb.csb, 0) AS csb
      |          FROM cb CROSS JOIN ns
      |          LEFT JOIN sb ON sb.source = ns.source AND sb.b = cb.b),
      |t AS (SELECT source, nns,
      |             CAST(floor((CAST(csb + 1 AS DOUBLE) / CAST(nns + vv AS DOUBLE))
      |                  * ln(CAST((CAST(csb AS HUGEINT) + 1) * (CAST(nn AS HUGEINT) + vv) AS DOUBLE)
      |                       / CAST((CAST(cbb AS HUGEINT) + 1) * (CAST(nns AS HUGEINT) + vv) AS DOUBLE))
      |                  * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS t6
      |      FROM spine, tot)
      |SELECT source, CAST(min(nns) AS BIGINT) AS n_bigrams,
      |       CAST(CAST(sum(t6) AS DECIMAL(28,6)) AS DOUBLE) AS kl_nats
      |FROM t GROUP BY source ORDER BY source""".stripMargin

  // x342: doubled tie-averaged ranks keep every quantity integral; one
  // division of HUGEINT products.
  val x342: String =
    """WITH d AS (SELECT floor(CAST(len(list_filter(toks,
      |                    x -> x IN ('the', 'a', 'of', 'to', 'and'))) AS DOUBLE)
      |                  / CAST(len(toks) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS s,
      |                  CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y
      |           FROM (SELECT string_split(text, ' ') AS toks, lang
      |                 FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL)),
      |grid AS (SELECT s, CAST(count(*) AS BIGINT) AS c, CAST(sum(y) AS BIGINT) AS cp
      |         FROM d GROUP BY s),
      |cum AS (SELECT s, c, cp,
      |               CAST(sum(c) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
      |                    AND CURRENT ROW) AS BIGINT) AS cumUpto
      |        FROM grid),
      |agg AS (SELECT sum(CAST(cp AS HUGEINT)
      |                   * ((cumUpto - c) * 2 + c + 1)) AS sr2 FROM cum),
      |tots AS (SELECT CAST(sum(y) AS BIGINT) AS npos,
      |                CAST(count(*) - sum(y) AS BIGINT) AS nneg FROM d)
      |SELECT npos AS n_pos, nneg AS n_neg,
      |       CASE WHEN npos > 0 AND nneg > 0 THEN
      |         floor(CAST(sr2 - CAST(npos AS HUGEINT) * (CAST(npos AS HUGEINT) + 1) AS DOUBLE)
      |               / CAST(2 * CAST(npos AS HUGEINT) * nneg AS DOUBLE)
      |               * 1000000 + 0.5) / 1000000 END AS auc
      |FROM agg, tots""".stripMargin

  // x343: successor counts gated by the broadcast 20-row anchor set;
  // per-term exact-ratio ln, round6, DECIMAL sums.
  val x343: String =
    """WITH tok AS (SELECT string_split(text, ' ') AS toks
      |             FROM documents WHERE text IS NOT NULL),
      |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cw
      |        FROM (SELECT unnest(toks) AS w FROM tok) GROUP BY w),
      |anch AS (SELECT w, cw FROM uni ORDER BY cw DESC, w LIMIT 20),
      |succ AS (SELECT s.w, s.nxt, CAST(count(*) AS BIGINT) AS c
      |         FROM (SELECT toks[i] AS w, toks[i+1] AS nxt
      |               FROM tok, unnest(range(1, len(toks))) u(i)) s
      |         JOIN anch ON anch.w = s.w
      |         GROUP BY s.w, s.nxt),
      |pa AS (SELECT w, CAST(sum(c) AS BIGINT) AS n,
      |              CAST(count(*) AS BIGINT) AS n_successors
      |       FROM succ GROUP BY w),
      |t AS (SELECT succ.w, pa.n, pa.n_successors,
      |             CAST(floor((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
      |                  * ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE))
      |                  * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS t6
      |      FROM succ JOIN pa USING (w))
      |SELECT t.w AS token, anch.cw AS n_occurrences,
      |       CAST(min(t.n) AS BIGINT) AS n_continuations,
      |       CAST(min(t.n_successors) AS BIGINT) AS n_successors,
      |       CAST(CAST(sum(t6) AS DECIMAL(28,6)) AS DOUBLE) AS branching_entropy
      |FROM t JOIN anch ON anch.w = t.w
      |GROUP BY t.w, anch.cw ORDER BY token""".stripMargin

  // x344: x342's doubled-rank identity with the dup-flag label.
  val x344: String =
    """WITH d0 AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS v,
      |                   md5(array_to_string(list_sort(list_distinct(
      |                     string_split(text, ' '))), ' ')) AS fp
      |            FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
      |mult AS (SELECT fp, CAST(count(*) AS BIGINT) AS m FROM d0 GROUP BY fp),
      |d AS (SELECT v, CAST(CASE WHEN m > 1 THEN 1 ELSE 0 END AS BIGINT) AS y
      |      FROM d0 JOIN mult USING (fp)),
      |grid AS (SELECT v, CAST(count(*) AS BIGINT) AS c, CAST(sum(y) AS BIGINT) AS cp
      |         FROM d GROUP BY v),
      |cum AS (SELECT v, c, cp,
      |               CAST(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
      |                    AND CURRENT ROW) AS BIGINT) AS cumUpto
      |        FROM grid),
      |agg AS (SELECT sum(CAST(cp AS HUGEINT) * ((cumUpto - c) * 2 + c + 1)) AS sr2
      |        FROM cum),
      |tots AS (SELECT CAST(sum(y) AS BIGINT) AS npos,
      |                CAST(count(*) - sum(y) AS BIGINT) AS nneg FROM d)
      |SELECT npos AS n_dup, nneg AS n_unique,
      |       CASE WHEN npos > 0 AND nneg > 0 THEN
      |         floor(CAST(sr2 - CAST(npos AS HUGEINT) * (CAST(npos AS HUGEINT) + 1) AS DOUBLE)
      |               / CAST(2 * CAST(npos AS HUGEINT) * nneg AS DOUBLE)
      |               * 1000000 + 0.5) / 1000000 END AS auc,
      |       CASE WHEN npos > 0 AND nneg > 0 THEN
      |         floor((CAST(sr2 - CAST(npos AS HUGEINT) * (CAST(npos AS HUGEINT) + 1) AS DOUBLE)
      |                / CAST(CAST(npos AS HUGEINT) * nneg AS DOUBLE) - 1.0)
      |               * 1000000 + 0.5) / 1000000 END AS rank_biserial
      |FROM agg, tots""".stripMargin

  // x345: exact character counts; per-term exact-ratio ln, DECIMAL sum.
  val x345: String =
    """WITH cells AS (SELECT source, ch, CAST(count(*) AS BIGINT) AS c
      |               FROM (SELECT source,
      |                            unnest(string_split(replace(text, ' ', ''), '')) AS ch
      |                     FROM documents WHERE text IS NOT NULL)
      |               WHERE ch <> '' GROUP BY source, ch),
      |per AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cells GROUP BY source),
      |t AS (SELECT cells.source, per.n,
      |             CAST(floor((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
      |                  * ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE))
      |                  * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS t6
      |      FROM cells JOIN per USING (source))
      |SELECT source, CAST(min(n) AS BIGINT) AS n_chars,
      |       CAST(count(*) AS BIGINT) AS alphabet_size,
      |       CAST(CAST(sum(t6) AS DECIMAL(28,6)) AS DOUBLE) AS char_entropy
      |FROM t GROUP BY source ORDER BY source""".stripMargin

  // x346: lexicographic adjacency via row_number; the common-prefix
  // length is a filter-COUNT of matching prefixes (monotone, so the
  // count is the length; list_reduce correlation is broken in DuckDB
  // 1.0 — see the Spark-side doc comment).
  val x346: String =
    """WITH vocab AS (SELECT DISTINCT w
      |               FROM (SELECT unnest(string_split(text, ' ')) AS w
      |                     FROM documents WHERE text IS NOT NULL)
      |               WHERE w <> ''),
      |rk AS (SELECT w, CAST(row_number() OVER (ORDER BY w) AS BIGINT) AS r FROM vocab),
      |adj AS (SELECT a.w AS w, b.w AS prev FROM rk a JOIN rk b ON a.r = b.r + 1),
      |cp AS (SELECT w,
      |              CAST(len(list_filter(range(1, least(length(w), length(prev)) + 1),
      |                   i -> substring(w, 1, i) = substring(prev, 1, i))) AS BIGINT) AS cp
      |       FROM adj),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_types,
      |               CAST(sum(length(w)) AS BIGINT) AS total_bytes FROM vocab),
      |ag AS (SELECT CAST(sum(cp) AS BIGINT) AS saved_bytes FROM cp)
      |SELECT n_types, total_bytes, saved_bytes,
      |       total_bytes - saved_bytes AS coded_bytes,
      |       floor(CAST(saved_bytes AS DOUBLE) / CAST(total_bytes AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS savings_ratio
      |FROM tot, ag""".stripMargin

  // x347: round6 relative frequencies on the zero-filled grid; exact
  // DECIMAL moments; z = 0 where sd quantizes to 0; 50-word pair means.
  val x347: String =
    """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w
      |             FROM documents WHERE text IS NOT NULL),
      |top AS (SELECT w FROM (SELECT w, count(*) AS cw FROM tok GROUP BY w)
      |        ORDER BY cw DESC, w LIMIT 50),
      |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY source),
      |cnt AS (SELECT source, tok.w, CAST(count(*) AS BIGINT) AS c
      |        FROM tok JOIN top ON top.w = tok.w GROUP BY source, tok.w),
      |grid AS (SELECT ns.source, top.w,
      |                CAST(floor(CAST(coalesce(cnt.c, 0) AS DOUBLE)
      |                     / CAST(ns.n AS DOUBLE) * 1000000 + 0.5) / 1000000
      |                     AS DECIMAL(18,6)) AS f6
      |         FROM ns CROSS JOIN top
      |         LEFT JOIN cnt ON cnt.source = ns.source AND cnt.w = top.w),
      |mom AS (SELECT w, CAST(count(*) AS BIGINT) AS s,
      |               CAST(sum(f6) AS DECIMAL(28,6)) AS sf,
      |               CAST(sum(f6 * f6) AS DECIMAL(38,12)) AS sff
      |        FROM grid GROUP BY w),
      |m2 AS (SELECT w,
      |              floor(CAST(sf AS DOUBLE) / s * 1000000 + 0.5) / 1000000 AS mu6,
      |              floor(sqrt(greatest(0.0, CAST(sff AS DOUBLE) / s
      |                    - (CAST(sf AS DOUBLE) / s) * (CAST(sf AS DOUBLE) / s)))
      |                    * 1000000 + 0.5) / 1000000 AS sd6
      |       FROM mom),
      |z AS (SELECT grid.source, grid.w,
      |             CAST(CASE WHEN sd6 > 0 THEN
      |                    floor((CAST(f6 AS DOUBLE) - mu6) / sd6 * 1000000 + 0.5)
      |                      / 1000000
      |                  ELSE 0.0 END AS DECIMAL(18,6)) AS z6
      |      FROM grid JOIN m2 ON m2.w = grid.w)
      |SELECT a.source AS source_a, b.source AS source_b,
      |       CAST(count(*) AS BIGINT) AS n_words,
      |       floor(CAST(CAST(sum(abs(CAST(a.z6 - b.z6 AS DECIMAL(18,6))))
      |                  AS DECIMAL(28,6)) AS DOUBLE)
      |             / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000
      |         AS burrows_delta
      |FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // x348: the identical window count + interval merge in DuckDB — same
  // md5'd 8-token window content, same corpus-wide ≥2 count (within-doc
  // repeats included), same gap ≤ 7 island rule, round6 at the one edge.
  val x348: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
      |           FROM documents WHERE text IS NOT NULL),
      |n AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM t),
      |w AS (SELECT doc_id, i AS pos, md5(array_to_string(toks[i:i+7], ' ')) AS w8
      |      FROM t, LATERAL unnest(range(1, len(toks) - 6)) AS r(i)
      |      WHERE len(toks) >= 8),
      |dup AS (SELECT w8 FROM w GROUP BY w8 HAVING count(*) >= 2),
      |mk AS (SELECT w.doc_id, w.pos FROM w JOIN dup USING (w8)),
      |lagd AS (SELECT doc_id, pos,
      |           lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM mk),
      |isl AS (SELECT doc_id, pos,
      |          sum(CASE WHEN prev IS NULL OR pos - prev > 7 THEN 1 ELSE 0 END)
      |            OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |        FROM lagd),
      |cov AS (SELECT doc_id, island, min(pos) AS s, max(pos) AS e,
      |               CAST(count(*) AS BIGINT) AS n_marked
      |        FROM isl GROUP BY 1, 2),
      |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_islands,
      |               CAST(sum(n_marked) AS BIGINT) AS n_dup_windows,
      |               CAST(sum(e - s + 8) AS BIGINT) AS covered_tokens
      |        FROM cov GROUP BY doc_id)
      |SELECT n.doc_id, n.n_tokens,
      |       coalesce(agg.n_dup_windows, 0) AS n_dup_windows,
      |       coalesce(agg.n_islands, 0) AS n_islands,
      |       coalesce(agg.covered_tokens, 0) AS covered_tokens,
      |       floor(coalesce(agg.covered_tokens, 0) / CAST(n.n_tokens AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS coverage_frac
      |FROM n LEFT JOIN agg USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // x349: identical win matrix (exact micro totals), the 3 MM iterations
  // unrolled — p round6'd per iteration, each denominator term round6'd
  // into an exact DECIMAL sum, so neither engine's fold order can move a
  // value; share = one division of round6 doubles by the exact decimal
  // total.
  val x349: String = {
    def iter(k: Int): String = {
      val prev = if (k == 1) "p0" else s"p${k - 1}"
      s"""den$k AS (
         |  SELECT g.i AS it,
         |         sum(CAST(CASE WHEN pa.p + pb.p > 0
         |             THEN floor(g.nij / (pa.p + pb.p) * 1000000 + 0.5) / 1000000
         |             ELSE 0 END AS DECIMAL(28,6))) AS den
         |  FROM grid g JOIN $prev pa ON pa.it = g.i JOIN $prev pb ON pb.it = g.j
         |  GROUP BY 1),
         |p$k AS (
         |  SELECT d.it,
         |         CASE WHEN d.den > 0
         |           THEN floor(coalesce(w.wins, 0) / CAST(d.den AS DOUBLE)
         |                      * 1000000 + 0.5) / 1000000
         |           ELSE CAST(0 AS DOUBLE) END AS p
         |  FROM den$k d LEFT JOIN w ON w.it = d.it)""".stripMargin
    }
    s"""WITH tot AS (
      |  SELECT user_id, event_type,
      |         CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS v
      |  FROM events
      |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND value IS NOT NULL
      |  GROUP BY 1, 2),
      |wins AS (
      |  SELECT a.event_type AS wi, b.event_type AS lo, CAST(count(*) AS BIGINT) AS n
      |  FROM tot a JOIN tot b ON a.user_id = b.user_id
      |    AND a.event_type <> b.event_type AND a.v > b.v
      |  GROUP BY 1, 2),
      |items AS (SELECT wi AS it FROM wins UNION SELECT lo FROM wins),
      |grid AS (
      |  SELECT i.it AS i, j.it AS j,
      |         coalesce(wa.n, 0) + coalesce(wb.n, 0) AS nij
      |  FROM items i JOIN items j ON i.it <> j.it
      |  LEFT JOIN wins wa ON wa.wi = i.it AND wa.lo = j.it
      |  LEFT JOIN wins wb ON wb.wi = j.it AND wb.lo = i.it),
      |w AS (SELECT wi AS it, CAST(sum(n) AS BIGINT) AS wins FROM wins GROUP BY 1),
      |l AS (SELECT lo AS it, CAST(sum(n) AS BIGINT) AS losses FROM wins GROUP BY 1),
      |p0 AS (SELECT it, CAST(1.0 AS DOUBLE) AS p FROM items),
      |${iter(1)},
      |${iter(2)},
      |${iter(3)},
      |totp AS (SELECT sum(CAST(p AS DECIMAL(18,6))) AS tp FROM p3)
      |SELECT items.it AS event_type,
      |       coalesce(w.wins, 0) AS n_wins,
      |       coalesce(l.losses, 0) AS n_losses,
      |       p3.p AS strength,
      |       CASE WHEN tp > 0
      |         THEN floor(p3.p / CAST(tp AS DOUBLE) * 1000000 + 0.5) / 1000000
      |         ELSE CAST(0 AS DOUBLE) END AS share
      |FROM items LEFT JOIN w ON w.it = items.it
      |           LEFT JOIN l ON l.it = items.it
      |           JOIN p3 ON p3.it = items.it, totp
      |ORDER BY event_type""".stripMargin
  }

  // x350: identical deterministic raters (base = length tercile, hash
  // dissent); 2·D_o and E = n² − Σn_c² exact via HUGEINT; α is ONE
  // division mirrored (·2.0 on the denominator, cast order identical).
  val x350: String =
    """WITH d AS (
      |  SELECT doc_id,
      |         CASE WHEN n_chars < 300 THEN 0
      |              WHEN n_chars < 600 THEN 1 ELSE 2 END AS base
      |  FROM documents WHERE text IS NOT NULL),
      |lab AS (
      |  SELECT doc_id,
      |         CASE WHEN h % 4 = 0 THEN (h // 4) % 3 ELSE CAST(base AS BIGINT) END AS cat
      |  FROM (SELECT doc_id, base,
      |               CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|'
      |                 || CAST(t.r AS VARCHAR)), 1, 2)) AS BIGINT) AS h
      |        FROM d, range(0, 3) t(r))),
      |nij AS (SELECT doc_id, cat, CAST(count(*) AS BIGINT) AS nij
      |        FROM lab GROUP BY 1, 2),
      |dou AS (SELECT doc_id, 6 - CAST(sum(nij * (nij - 1)) AS BIGINT) AS do2u
      |        FROM nij GROUP BY doc_id),
      |ds AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |              CAST(sum(do2u) AS BIGINT) AS do2 FROM dou),
      |marg AS (
      |  SELECT CAST(sum(nc) AS BIGINT) AS n,
      |         sum(CAST(nc AS HUGEINT) * CAST(nc AS HUGEINT)) AS sum_nc2
      |  FROM (SELECT CAST(sum(nij) AS BIGINT) AS nc FROM nij GROUP BY cat))
      |SELECT n_docs, n AS n_ratings,
      |       floor(CAST(do2 AS DOUBLE) / 2.0 * 1000000 + 0.5) / 1000000 AS d_o,
      |       CASE WHEN CAST(n AS HUGEINT) * CAST(n AS HUGEINT) - sum_nc2 > 0
      |         THEN floor((1.0 - CAST(CAST(do2 AS HUGEINT) * (CAST(n AS HUGEINT) - 1) AS DOUBLE)
      |                     / (CAST(CAST(n AS HUGEINT) * CAST(n AS HUGEINT) - sum_nc2 AS DOUBLE)
      |                        * 2.0))
      |                    * 1000000 + 0.5) / 1000000 END AS alpha
      |FROM ds, marg""".stripMargin

  // x351: same per-vector round6 scale, same ⌊x/scale+0.5⌋ clamp — the
  // reported numbers are exact integer sums plus ONE division, so the
  // quantizer is pinned bit-for-bit with no float fold crossing engines.
  val x351: String =
    """WITH m AS (
      |  SELECT vec_id, label,
      |         floor(list_max(list_transform(embedding,
      |                 x -> abs(CAST(x AS DOUBLE)))) / 127.0
      |               * 1000000 + 0.5) / 1000000 AS scale
      |  FROM embeddings),
      |lanes AS (
      |  SELECT e.vec_id, e.label, m.scale, CAST(u.x AS DOUBLE) AS x
      |  FROM embeddings e JOIN m ON m.vec_id = e.vec_id,
      |       unnest(e.embedding) AS u(x)),
      |q AS (
      |  SELECT vec_id, label, scale,
      |         CASE WHEN scale > 0
      |           THEN CAST(floor(x / scale + 0.5) AS BIGINT) ELSE 0 END AS q0
      |  FROM lanes),
      |qc AS (SELECT vec_id, label, scale, q0,
      |              greatest(CAST(-127 AS BIGINT), least(CAST(127 AS BIGINT), q0)) AS q
      |       FROM q)
      |SELECT label,
      |       CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vecs,
      |       CAST(sum(abs(q)) AS BIGINT) AS sum_abs_q,
      |       CAST(sum(q) AS BIGINT) AS sum_q,
      |       CAST(sum(CASE WHEN q0 <> q THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
      |       floor(CAST(sum(CAST(scale AS DECIMAL(28,6))) AS DOUBLE)
      |             / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS mean_scale
      |FROM qc GROUP BY label ORDER BY label""".stripMargin

  // x353: identical md5-hex argmax per shard count (arg_max ↔ Spark's
  // struct array_max — md5 ties impossible), exact integer loads.
  val x353: String =
    """WITH h32 AS (
      |  SELECT d.doc_id, t.s,
      |         md5(CAST(d.doc_id AS VARCHAR) || '|' || CAST(t.s AS VARCHAR)) AS h
      |  FROM documents d, range(0, 32) t(s)),
      |a32 AS (SELECT doc_id, CAST(arg_max(s, h) AS BIGINT) AS shard32
      |        FROM h32 GROUP BY doc_id),
      |h33 AS (
      |  SELECT d.doc_id, t.s,
      |         md5(CAST(d.doc_id AS VARCHAR) || '|' || CAST(t.s AS VARCHAR)) AS h
      |  FROM documents d, range(0, 33) t(s)),
      |a33 AS (SELECT doc_id, CAST(arg_max(s, h) AS BIGINT) AS shard33
      |        FROM h33 GROUP BY doc_id),
      |hrw AS (
      |  SELECT shard32 AS shard, CAST(count(*) AS BIGINT) AS n_hrw,
      |         CAST(sum(CASE WHEN shard32 <> shard33 THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_moved_33
      |  FROM a32 JOIN a33 USING (doc_id) GROUP BY 1),
      |m AS (SELECT CAST(doc_id % 32 AS BIGINT) AS shard,
      |             CAST(count(*) AS BIGINT) AS n_mod
      |      FROM documents GROUP BY 1)
      |SELECT coalesce(hrw.shard, m.shard) AS shard,
      |       coalesce(n_hrw, 0) AS n_hrw,
      |       coalesce(n_mod, 0) AS n_mod,
      |       coalesce(n_moved_33, 0) AS n_moved_33
      |FROM hrw FULL JOIN m ON hrw.shard = m.shard
      |ORDER BY shard""".stripMargin


  // x352: identical probe construction (row_number-1 pids for the hash
  // coordinates, the md5-13-hex dyadic uniform, round6 bounds, capped
  // % 31 < 1000 sample) and the identical micro-integer distances
  // (per-term ⌊(x−a)²·10⁶+0.5⌋ BIGINT sums = Spark's micro_l2) — min and
  // the u/w sums exact, one edge division.
  val x352: String =
    """WITH corpus AS (
      |  SELECT vec_id, i.i - 1 AS d, CAST(embedding[i.i] AS DOUBLE) AS x
      |  FROM embeddings, range(1, 65) i(i)
      |  WHERE i.i <= len(embedding)),
      |bounds AS (
      |  SELECT d, floor(min(x) * 1000000 + 0.5) / 1000000 AS lo,
      |         floor(max(x) * 1000000 + 0.5) / 1000000 AS hi
      |  FROM corpus GROUP BY d),
      |samp AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS pid
      |         FROM embeddings WHERE vec_id % 31 = 0 AND vec_id < 1000),
      |synth AS (
      |  SELECT 'synth' AS kind, s.pid, b.d,
      |         floor((b.lo + ((('0x' || substring(md5('hop|' ||
      |             CAST(s.pid AS VARCHAR) || '|' || CAST(b.d AS VARCHAR)), 1, 13))
      |             ::BIGINT + 0.5) / 4503599627370496.0) * (b.hi - b.lo))
      |           * 1000000 + 0.5) / 1000000 AS a
      |  FROM samp s CROSS JOIN bounds b),
      |realp AS (
      |  SELECT 'real' AS kind, c.vec_id AS pid, c.d, c.x AS a
      |  FROM corpus c WHERE c.vec_id % 31 = 0 AND c.vec_id < 1000),
      |probes AS (SELECT * FROM synth UNION ALL SELECT * FROM realp),
      |d2 AS (
      |  SELECT p.kind, p.pid, c.vec_id,
      |         CAST(sum(CAST(floor((c.x - p.a) * (c.x - p.a) * 1000000 + 0.5)
      |                  AS BIGINT)) AS BIGINT) AS d2
      |  FROM corpus c JOIN probes p ON p.d = c.d
      |  WHERE NOT (p.kind = 'real' AND p.pid = c.vec_id)
      |  GROUP BY 1, 2, 3),
      |nn AS (SELECT kind, pid, min(d2) AS nn FROM d2 GROUP BY 1, 2),
      |agg AS (
      |  SELECT CAST((SELECT count(*) FROM samp) AS BIGINT) AS m,
      |         CAST(coalesce((SELECT sum(nn) FROM nn WHERE kind = 'synth'), 0)
      |           AS BIGINT) AS u,
      |         CAST(coalesce((SELECT sum(nn) FROM nn WHERE kind = 'real'), 0)
      |           AS BIGINT) AS w)
      |SELECT m,
      |       floor(CAST(u AS DOUBLE) / 1000000.0 * 1000000 + 0.5) / 1000000 AS sum_u,
      |       floor(CAST(w AS DOUBLE) / 1000000.0 * 1000000 + 0.5) / 1000000 AS sum_w,
      |       CASE WHEN u + w > 0
      |         THEN floor(CAST(u AS DOUBLE) / CAST(u + w AS DOUBLE)
      |                    * 1000000 + 0.5) / 1000000
      |         ELSE CAST(0.5 AS DOUBLE) END AS hopkins
      |FROM agg""".stripMargin

  // x354: the oracle computes the FULL exact kNN graph (N² pairs at the
  // verification SF) — its restriction to the query/neighbor hull equals
  // the staged three-hop computation by construction; identical
  // micro-integer distances, (d2, vec_id) order, reach/lrd/LOF rounding.
  // NULL-LANE precondition (advice r13): list_sum here SKIPS a null lane
  // where Spark's micro_l2 poisons the pair — parity holds only on
  // lane-null-free embeddings, asserted by MicroL2Spec against the
  // fixtures (same applies to x352 above).
  val x354: String =
    """WITH pairs AS (
      |  SELECT a.vec_id AS aid, b.vec_id AS bid,
      |         list_sum(list_transform(range(1, len(a.embedding) + 1),
      |           i -> CAST(floor((CAST(a.embedding[i] AS DOUBLE)
      |                            - CAST(b.embedding[i] AS DOUBLE))
      |                           * (CAST(a.embedding[i] AS DOUBLE)
      |                              - CAST(b.embedding[i] AS DOUBLE))
      |                           * 1000000 + 0.5) AS BIGINT))) AS d2
      |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
      |knn AS (
      |  SELECT aid, bid, d2,
      |         row_number() OVER (PARTITION BY aid ORDER BY d2, bid) AS rn
      |  FROM pairs QUALIFY rn <= 3),
      |kdist AS (SELECT aid AS pid, d2 AS kdist FROM knn WHERE rn = 3),
      |lrd AS (
      |  SELECT k.aid AS pid,
      |         CASE WHEN sum(greatest(kd.kdist, k.d2)) > 0
      |           THEN floor(3.0 / (CAST(sum(greatest(kd.kdist, k.d2)) AS DOUBLE)
      |                             / 1000000.0) * 1000000 + 0.5) / 1000000
      |           ELSE CAST(0 AS DOUBLE) END AS lrd
      |  FROM knn k JOIN kdist kd ON kd.pid = k.bid
      |  GROUP BY k.aid),
      |ql AS (
      |  SELECT k.aid AS vec_id, la.lrd AS lrd_a,
      |         sum(CAST(CASE WHEN la.lrd > 0
      |               THEN floor(lb.lrd / la.lrd * 1000000 + 0.5) / 1000000
      |               ELSE 0 END AS DECIMAL(28,6))) AS ratio_sum
      |  FROM knn k JOIN lrd la ON la.pid = k.aid
      |             JOIN lrd lb ON lb.pid = k.bid
      |  WHERE k.aid % 200 = 0 AND k.aid < 10000
      |  GROUP BY 1, 2)
      |SELECT q.vec_id, e.label,
      |       floor(q.lrd_a * 1000000 + 0.5) / 1000000 AS lrd,
      |       floor(CAST(q.ratio_sum AS DOUBLE) / 3.0 * 1000000 + 0.5) / 1000000 AS lof
      |FROM ql q JOIN embeddings e ON e.vec_id = q.vec_id
      |ORDER BY q.vec_id""".stripMargin

  // x355: identical split, the same round6'd exact-decimal calibration
  // mean, the same exact rank pick for q̂ and raw-double comparison for
  // coverage — every number is an integer or ONE rounded division.
  val x355: String =
    """WITH ev AS (
      |  SELECT event_id, event_type,
      |         CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vm,
      |         event_id % 2 = 0 AS is_cal
      |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
      |means AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_cal,
      |         floor(CAST(sum(CAST(vm AS DECIMAL(28,0))) AS DOUBLE)
      |               / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS mu
      |  FROM ev WHERE is_cal GROUP BY 1),
      |scored AS (
      |  SELECT e.event_type, e.event_id, e.is_cal, m.n_cal,
      |         abs(CAST(e.vm AS DOUBLE) - m.mu) AS s
      |  FROM ev e JOIN means m USING (event_type)),
      |qh AS (
      |  SELECT event_type, s AS qhat
      |  FROM (SELECT event_type, s, n_cal,
      |               row_number() OVER (PARTITION BY event_type
      |                                  ORDER BY s, event_id) AS rn
      |        FROM scored WHERE is_cal)
      |  WHERE rn = CAST(ceil(CAST(n_cal + 1 AS DOUBLE) * 0.9) AS BIGINT))
      |SELECT sc.event_type, max(sc.n_cal) AS n_cal,
      |       CAST(count(*) AS BIGINT) AS n_test,
      |       floor(max(qh.qhat) * 1000000 + 0.5) / 1000000 AS qhat,
      |       CAST(sum(CASE WHEN sc.s <= qh.qhat THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_covered,
      |       floor(CAST(sum(CASE WHEN sc.s <= qh.qhat THEN 1 ELSE 0 END) AS DOUBLE)
      |             / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS coverage
      |FROM scored sc JOIN qh USING (event_type)
      |WHERE NOT sc.is_cal
      |GROUP BY sc.event_type ORDER BY sc.event_type""".stripMargin

  // x356: the identical md5-keyed permutation (lowercase-hex md5 of the
  // identical "<epoch>|<doc_id>" string on both engines, doc_id
  // tie-break), adjacency via the pos+1 self-join, unordered pair keys
  // (least, greatest), and a cmp-spine LEFT join so an epoch pair with
  // zero repeats still emits its row — one rounded division per row.
  val x356: String =
    """WITH e(e) AS (VALUES (0), (1), (2)),
      |pos AS (
      |  SELECT e.e AS epoch, d.doc_id,
      |         row_number() OVER (PARTITION BY e.e
      |           ORDER BY md5(CAST(e.e AS VARCHAR) || '|' ||
      |                        CAST(d.doc_id AS VARCHAR)), d.doc_id) AS pos
      |  FROM documents d CROSS JOIN e WHERE d.doc_id IS NOT NULL),
      |pairs AS (
      |  SELECT a.epoch, least(a.doc_id, b.doc_id) AS lo,
      |         greatest(a.doc_id, b.doc_id) AS hi
      |  FROM pos a JOIN pos b ON a.epoch = b.epoch AND b.pos = a.pos + 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
      |      WHERE doc_id IS NOT NULL),
      |cmp(ea, eb) AS (VALUES (0, 1), (1, 2), (0, 2)),
      |rep AS (
      |  SELECT pa.epoch AS ea, pb.epoch AS eb,
      |         CAST(count(*) AS BIGINT) AS n_repeat
      |  FROM pairs pa JOIN pairs pb ON pa.lo = pb.lo AND pa.hi = pb.hi
      |  GROUP BY 1, 2)
      |SELECT CAST(c.ea AS BIGINT) AS epoch_a, CAST(c.eb AS BIGINT) AS epoch_b,
      |       n.n_docs, n.n_docs - 1 AS n_adj,
      |       coalesce(r.n_repeat, 0) AS n_repeat,
      |       floor(CAST(coalesce(r.n_repeat, 0) AS DOUBLE)
      |             / CAST(n.n_docs - 1 AS DOUBLE) * 1000000 + 0.5) / 1000000
      |         AS repeat_rate
      |FROM cmp c CROSS JOIN n
      |LEFT JOIN rep r ON r.ea = c.ea AND r.eb = c.eb
      |ORDER BY epoch_a, epoch_b""".stripMargin

  // x357: identical stream-concat packing model — the x159 token
  // convention (len(string_split) = Spark's size(split)), doc starts
  // from the doc_id-ordered prefix sum, the same exact integer
  // block/window combinatorics per token (bounded grid + ON i < len,
  // the DuckDB-1.0-safe explode; range() rejects even scalar-subquery
  // bounds, so the grid bound is the CONSTANT 4096 — fixture docs are
  // ≤100 tokens, and a longer doc would DROP tokens from the oracle
  // side and fail the hash loudly, never silently agree), one rounded
  // division per row.
  val x357: String =
    """WITH docs AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS len
      |  FROM documents WHERE text IS NOT NULL),
      |starts AS (
      |  SELECT doc_id, len,
      |         CAST(coalesce(sum(len) OVER (ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           AS BIGINT) AS s0
      |  FROM docs),
      |pt AS (
      |  SELECT (s.s0 + t.i) - ((s.s0 + t.i) // 256) * 256 AS p,
      |         (s.s0 + t.i) - greatest(s.s0, ((s.s0 + t.i) // 256) * 256) AS own
      |  FROM starts s
      |  JOIN range(0, 4096) t(i) ON t.i < s.len),
      |a AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_tokens,
      |         CAST(sum(least(p, 32)) AS BIGINT) AS att32,
      |         CAST(sum(greatest(least(p, 32) - own, 0)) AS BIGINT) AS crs32,
      |         CAST(sum(p) AS BIGINT) AS att256,
      |         CAST(sum(greatest(p - own, 0)) AS BIGINT) AS crs256
      |  FROM pt)
      |SELECT w, n_tokens, attended_pairs, cross_pairs,
      |       floor(CAST(cross_pairs AS DOUBLE) / CAST(attended_pairs AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS contamination
      |FROM (
      |  SELECT CAST(32 AS BIGINT) AS w, n_tokens, att32 AS attended_pairs,
      |         crs32 AS cross_pairs FROM a
      |  UNION ALL
      |  SELECT CAST(256 AS BIGINT), n_tokens, att256, crs256 FROM a)
      |ORDER BY w""".stripMargin

  // x358: x15's exact length-replace scoring and lexicographic argmax
  // (the same CASE chain as the x15 oracle) applied to 16-token segment
  // slices (list_slice is 1-based inclusive = Spark's slice(start, len)),
  // the same lag-based switch count, the same floored-at-1 adjacent-pair
  // denominator; bounded grid + ON i < ceil(len/16) (the x357 rule).
  val x358: String =
    """WITH segs AS (
      |  SELECT source, doc_id, t.i,
      |         array_to_string(list_slice(string_split(text, ' '),
      |           t.i * 16 + 1, t.i * 16 + 16), ' ') AS seg
      |  FROM documents
      |  JOIN range(0, 4096) t(i)
      |    ON t.i < (len(string_split(text, ' ')) + 15) // 16
      |  WHERE text IS NOT NULL AND source IS NOT NULL),
      |s AS (
      |  SELECT source, doc_id, i,
      |    (length(seg) - length(replace(seg, 'ch', ''))) / 2
      |      + (length(seg) - length(replace(seg, 'ei', ''))) / 2 AS s_de,
      |    (length(seg) - length(replace(seg, 'th', ''))) / 2
      |      + (length(seg) - length(replace(seg, 'he', ''))) / 2 AS s_en,
      |    (length(seg) - length(replace(seg, 'de', ''))) / 2
      |      + (length(seg) - length(replace(seg, 'la', ''))) / 2 AS s_es,
      |    (length(seg) - length(replace(seg, 'le', ''))) / 2
      |      + (length(seg) - length(replace(seg, 'ou', ''))) / 2 AS s_fr,
      |    (length(seg) - length(replace(seg, 'zh', ''))) / 2
      |      + (length(seg) - length(replace(seg, 'ng', ''))) / 2 AS s_zh
      |  FROM segs),
      |p AS (
      |  SELECT source, doc_id, i,
      |    CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
      |         WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
      |         WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
      |         WHEN s_fr >= s_zh THEN 'fr'
      |         ELSE 'zh' END AS predicted
      |  FROM s),
      |d AS (
      |  SELECT source, doc_id,
      |         CAST(count(*) AS BIGINT) AS n_segs,
      |         CAST(count(DISTINCT predicted) AS BIGINT) AS n_langs,
      |         CAST(sum(CASE WHEN prev IS NOT NULL AND prev <> predicted
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_switch
      |  FROM (SELECT *, lag(predicted) OVER (PARTITION BY doc_id ORDER BY i)
      |          AS prev FROM p)
      |  GROUP BY 1, 2)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(CASE WHEN n_langs > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_mixed_docs,
      |       CAST(sum(n_segs) AS BIGINT) AS n_segments,
      |       CAST(sum(n_switch) AS BIGINT) AS n_switches,
      |       floor(CAST(sum(CASE WHEN n_langs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |             / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000
      |         AS mixed_rate,
      |       floor(CAST(sum(n_switch) AS DOUBLE)
      |             / CAST(greatest(sum(n_segs) - count(*), 1) AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS switch_rate
      |FROM d GROUP BY source ORDER BY source""".stripMargin

  // x359: the same stream-concat prefix sum as x357's oracle (one
  // cumulative window in doc_id order — DuckDB is single-node, the
  // bucketed distributed form is the engine's concern), the closed-form
  // fragment count per (doc, B) — integer // division both engines —
  // and the 4-value frontier via a VALUES cross join.
  val x359: String =
    """WITH docs AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS len
      |  FROM documents WHERE text IS NOT NULL),
      |starts AS (
      |  SELECT doc_id, len,
      |         CAST(coalesce(sum(len) OVER (ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           AS BIGINT) AS s0
      |  FROM docs),
      |b(b) AS (VALUES (64), (128), (256), (512)),
      |per AS (
      |  SELECT CAST(b.b AS BIGINT) AS b, s.len,
      |         ((s.s0 + s.len - 1) // b.b) - (s.s0 // b.b) + 1 AS frags
      |  FROM starts s CROSS JOIN b)
      |SELECT b AS block_size, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(len) AS BIGINT) AS total_tokens,
      |       (CAST(sum(len) AS BIGINT) + b - 1) // b AS n_blocks,
      |       CAST(sum(CASE WHEN frags > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_split_docs,
      |       CAST(sum(frags) AS BIGINT) AS total_fragments,
      |       floor(CAST(sum(CASE WHEN frags > 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |             / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000
      |         AS split_rate,
      |       floor(CAST(sum(frags) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS frag_avg
      |FROM per GROUP BY b ORDER BY block_size""".stripMargin

  // x360: identical md5 split (lowercase-hex md5 of the identical
  // "dc:<doc_id>" string), per-doc-DISTINCT 8-gram hashes via the
  // bounded grid + ON i <= len-7 (the x357 rule: range() rejects
  // correlated bounds; a doc past 4102 tokens would DROP grams here and
  // fail the hash loudly, never agree silently), train side collapsed
  // to DISTINCT hashes before the probe join.
  val x360: String =
    """WITH toks AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS t,
      |         substr(md5('dc:' || CAST(doc_id AS VARCHAR)), 1, 1)
      |           IN ('0', '1', '2') AS is_test
      |  FROM documents
      |  WHERE text IS NOT NULL AND source IS NOT NULL
      |    AND len(string_split(text, ' ')) >= 8),
      |g AS (
      |  SELECT DISTINCT doc_id, source, is_test,
      |         md5(array_to_string(list_slice(t, i, i + 7), ' ')) AS h
      |  FROM toks JOIN range(1, 4096) r(i) ON r.i <= len(t) - 7),
      |tr AS (SELECT DISTINCT h FROM g WHERE NOT is_test),
      |pd AS (
      |  SELECT te.source, te.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
      |         CAST(sum(CASE WHEN tr.h IS NOT NULL THEN 1 ELSE 0 END)
      |           AS BIGINT) AS n_hit
      |  FROM (SELECT doc_id, source, h FROM g WHERE is_test) te
      |  LEFT JOIN tr ON te.h = tr.h
      |  GROUP BY 1, 2)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_test_docs,
      |       CAST(sum(n_grams) AS BIGINT) AS n_test_grams,
      |       CAST(sum(n_hit) AS BIGINT) AS n_hit_grams,
      |       CAST(sum(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_contaminated_docs,
      |       floor(CAST(sum(n_hit) AS DOUBLE) / CAST(sum(n_grams) AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS gram_hit_rate,
      |       floor(CAST(sum(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END) AS DOUBLE)
      |             / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000
      |         AS doc_contamination_rate
      |FROM pd GROUP BY source ORDER BY source""".stripMargin

  // x361: identical 4-token prefix/suffix md5 (1-based inclusive
  // list_slice == Spark's slice), both sides collapsed to (hash,
  // source, count) before the join so pair counts are exact products;
  // the diagonal subtracts docs whose own prefix == own suffix.
  val x361: String =
    """WITH pp AS (
      |  SELECT doc_id, source,
      |         md5(array_to_string(list_slice(t, 1, 4), ' ')) AS ph,
      |         md5(array_to_string(list_slice(t, len(t) - 3, len(t)), ' '))
      |           AS sh
      |  FROM (SELECT doc_id, source, string_split(text, ' ') AS t
      |        FROM documents
      |        WHERE text IS NOT NULL AND source IS NOT NULL) d
      |  WHERE len(t) >= 5),
      |s AS (SELECT sh AS h, source AS src_a, CAST(count(*) AS BIGINT) AS s_cnt
      |      FROM pp GROUP BY 1, 2),
      |p AS (SELECT ph AS h, source AS src_b, CAST(count(*) AS BIGINT) AS p_cnt
      |      FROM pp GROUP BY 1, 2),
      |raw AS (SELECT src_a, src_b, CAST(sum(s_cnt * p_cnt) AS BIGINT)
      |          AS raw_pairs
      |        FROM s JOIN p USING (h) GROUP BY 1, 2),
      |slf AS (SELECT source, CAST(count(*) AS BIGINT) AS self_cnt
      |        FROM pp WHERE ph = sh GROUP BY 1)
      |SELECT src_a, src_b,
      |       raw_pairs - CASE WHEN src_a = src_b THEN coalesce(self_cnt, 0)
      |                        ELSE 0 END AS n_stitch_pairs
      |FROM raw LEFT JOIN slf ON src_a = source
      |WHERE raw_pairs - CASE WHEN src_a = src_b THEN coalesce(self_cnt, 0)
      |                       ELSE 0 END > 0
      |ORDER BY src_a, src_b""".stripMargin

  // x362: identical gaps-and-islands — the flag's CASE ELSE 0 makes a
  // null lag non-flagged (Spark's null-filtered ===); islands via
  // pos − row_number per (doc, p); repeats = r // p + 1 exactly; the
  // |sources|×3 spine closes repeat-free groups; max_repeats floors
  // at 1 on both engines. Bounded grid + ON i <= len (the x357 rule).
  val x362: String =
    """WITH tok AS (
      |  SELECT doc_id, source, i AS pos, t[i] AS w
      |  FROM (SELECT doc_id, source, string_split(text, ' ') AS t
      |        FROM documents
      |        WHERE text IS NOT NULL AND source IS NOT NULL) d
      |  JOIN range(1, 4096) r(i) ON r.i <= len(t)),
      |fl AS (
      |  SELECT doc_id, source, pos, p.p,
      |         CASE WHEN lag(w, p.p) OVER (PARTITION BY doc_id, p.p
      |                ORDER BY pos) = w THEN 1 ELSE 0 END AS f
      |  FROM tok CROSS JOIN (VALUES (1), (2), (3)) p(p)),
      |grps AS (
      |  SELECT doc_id, source, p,
      |         pos - row_number() OVER (PARTITION BY doc_id, p
      |           ORDER BY pos) AS grp
      |  FROM fl WHERE f = 1),
      |runs AS (
      |  SELECT doc_id, source, p, grp, CAST(count(*) AS BIGINT) AS r
      |  FROM grps GROUP BY 1, 2, 3, 4),
      |docmax AS (
      |  SELECT doc_id, source, p, max(r // p + 1) AS max_rep
      |  FROM runs GROUP BY 1, 2, 3),
      |tot AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
      |  GROUP BY 1)
      |SELECT t.source, CAST(pr.p AS BIGINT) AS p, t.n_docs,
      |       CAST(coalesce(sum(CASE WHEN d.max_rep >= 2 THEN 1 END), 0)
      |         AS BIGINT) AS n_repeating,
      |       CAST(coalesce(sum(CASE WHEN d.max_rep >= 4 THEN 1 END), 0)
      |         AS BIGINT) AS n_looping,
      |       CAST(greatest(coalesce(max(d.max_rep), 1), 1) AS BIGINT)
      |         AS max_repeats,
      |       floor(CAST(coalesce(sum(CASE WHEN d.max_rep >= 2 THEN 1 END), 0)
      |               AS DOUBLE) / CAST(t.n_docs AS DOUBLE)
      |             * 1000000 + 0.5) / 1000000 AS repeating_rate
      |FROM tot t CROSS JOIN (VALUES (1), (2), (3)) pr(p)
      |LEFT JOIN docmax d ON d.source = t.source AND d.p = pr.p
      |GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin

  // x363: identical micro-integer normalization chain (floor-rounded
  // micro norm, round6 DECIMAL(18,6) coordinates), all quadratic sums
  // in exact DECIMAL; the bounded 64-dim grid replaces unnest WITH
  // ORDINALITY for the same 1-based dim key as Spark's posexplode+1.
  val x363: String =
    """WITH base AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label,
      |         list_transform(embedding,
      |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
      |                AS BIGINT)) AS xm
      |  FROM embeddings
      |  WHERE embedding IS NOT NULL AND label IS NOT NULL),
      |nrm AS (
      |  SELECT vec_id, label, xm,
      |         floor(sqrt(CAST(list_sum(list_transform(xm, v -> v * v))
      |               AS DOUBLE)) + 0.5) / 1000000 AS nr
      |  FROM base),
      |unit AS (
      |  SELECT vec_id, label, u.d AS dim,
      |         CAST(floor((CAST(xm[d] AS DOUBLE) / 1000000) / nr
      |                * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS v
      |  FROM nrm JOIN range(1, 65) u(d) ON u.d <= len(xm)
      |  WHERE nr > 0),
      |qn AS (
      |  SELECT label, CAST(sum(q) AS DOUBLE) AS qq,
      |         CAST(count(*) AS BIGINT) AS n_vecs
      |  FROM (SELECT label, vec_id,
      |          sum(CAST(v * v AS DECIMAL(38,12))) AS q
      |        FROM unit GROUP BY 1, 2) pv
      |  GROUP BY 1),
      |s2 AS (
      |  SELECT label, CAST(sum(CAST(s * s AS DECIMAL(38,12))) AS DOUBLE)
      |           AS s2
      |  FROM (SELECT label, dim, CAST(sum(v) AS DECIMAL(18,6)) AS s
      |        FROM unit GROUP BY 1, 2) d
      |  GROUP BY 1)
      |SELECT s2.label, qn.n_vecs,
      |       floor((s2.s2 - qn.qq) / (CAST(qn.n_vecs AS DOUBLE)
      |             * CAST(qn.n_vecs - 1 AS DOUBLE)) * 1000000 + 0.5)
      |         / 1000000 AS mean_cos
      |FROM s2 JOIN qn ON s2.label = qn.label
      |WHERE qn.n_vecs > 1
      |ORDER BY s2.label""".stripMargin

  // x364: identical sorted-rank Gini — row_number over the identical
  // (len, doc_id) total order per source, exact integer numerator and
  // denominator, one rounded division.
  val x364: String =
    """WITH d AS (
      |  SELECT doc_id, source,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS len
      |  FROM documents
      |  WHERE text IS NOT NULL AND source IS NOT NULL),
      |r AS (
      |  SELECT source, len,
      |         row_number() OVER (PARTITION BY source
      |           ORDER BY len, doc_id) AS rn
      |  FROM d),
      |a AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(len) AS BIGINT) AS tot,
      |         CAST(sum(rn * len) AS BIGINT) AS s1
      |  FROM r GROUP BY 1)
      |SELECT source, n AS n_docs, tot AS total_tokens,
      |       floor(CAST(2 * s1 - (n + 1) * tot AS DOUBLE)
      |             / CAST(n * tot AS DOUBLE) * 1000000 + 0.5) / 1000000
      |         AS gini
      |FROM a WHERE tot > 0 ORDER BY source""".stripMargin
}
