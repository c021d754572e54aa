package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every SQL-expressible query has a DuckDB oracle in [[oracleSql]] with
  * identical column names/types and a deterministic total ORDER BY.
  * `standardize_title`-bearing queries and the approximate §2.4 operators
  * carry no oracle (rows-only check): the local oracle is DuckDB 1.0.0,
  * which cannot load the reference's prebuilt extension (oldest build is
  * v1.3.2, and the 1.0.0 platform ABI is `linux_amd64_gcc4`); their
  * semantics are pinned by golden unit tests + cross-checks in ScalaTest
  * (UDF path vs DataFrame-native path must agree).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference README's headline analytics: GROUP BY standardized
    * title + COUNT + COUNT(DISTINCT ...). */
  def entry(spark: SparkSession): DataFrame =
    Queries.stdGroupCount(spark, "/root/testdata/sf0.001")

  /** One registered query: its name (`qNN_slug`), the function that
    * builds its frame, and its DuckDB oracle SQL if it has one. The oracle
    * is evaluated on every read: the std and SF oracles read state
    * that `StdOracle.prepare` and `SfOracles.prepare` compute for the
    * scale factor under verification. */
  final class Query private (val name: String,
      val build: (SparkSession, String) => DataFrame,
      sql: Option[() => String]) {
    /** The `qNN` prefix: the bench's JSON key. */
    val id: String = name match { case Query.Name(q) => q }
    def oracle: Option[String] = sql.map(_())
  }

  object Query {
    private val Name = "(q\\d+)_[a-z0-9_]+".r
    def apply(name: String,
        build: (SparkSession, String) => DataFrame): Query =
      new Query(name, build, None)
    def apply(name: String, build: (SparkSession, String) => DataFrame,
        oracle: => String): Query =
      new Query(name, build, Some(() => oracle))
  }

  /** Shared by q151 (the sharded permutation plan) and q156 (the
    * pos-range sink round trip): one global ROW_NUMBER window over the
    * md5 digest order states the semantics both must match. */
  private val trainingOrderOracleSql: String =
    """SELECT doc_id,
      |  md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
      |  CAST(ROW_NUMBER() OVER (
      |    ORDER BY md5('epoch0:' || CAST(doc_id AS VARCHAR)), doc_id)
      |    AS BIGINT) AS pos
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Shared by q152 (batch shape) and q155 (persisted-index shape):
    * identical double expression tree from exact integer inputs
    * (tf, df, dl, N, Σdl), each contribution e4-rounded so the
    * per-(query, doc) sum is BIGINT. */
  private val bm25OracleSql: String = bm25Top5(Bm25OracleSql.rankedCtes)

  /** The top-5 BM25 ranking over a `ranked` CTE chain from
    * [[Bm25OracleSql]]. */
  private def bm25Top5(rankedCtes: String): String =
    s"""WITH $rankedCtes
      |SELECT qid, CAST(rank AS BIGINT) AS rank, doc_id, score_e4
      |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** Every query, one entry each, by number: one per implemented
    * operator from SURVEY.md §2. The oracle is DuckDB-runnable ANSI SQL
    * over the same parquet tables, with the same column names and a
    * deterministic ordering; UDF-bearing and approximate queries carry
    * none (see the object doc). */
  val registry: Seq[Query] = Seq(
    Query("q01_scan_filter_project", Queries.scanFilterProject,
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE n_chars BETWEEN 100 AND 400 AND lang IN ('en','de','es')
        |ORDER BY doc_id""".stripMargin),
    Query("q02_agg_pricing", Queries.aggPricing,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_qty_c,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_price_c,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) * 10000 AS BIGINT) AS sum_disc_price_e4,
        |  COUNT(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Query("q03_filter_in", Queries.filterIn,
      """SELECT c_custkey, c_name, c_mktsegment,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS acctbal_c
        |FROM customer
        |WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE') AND c_acctbal > 5000.0
        |ORDER BY c_custkey""".stripMargin),
    Query("q04_filter_like", Queries.filterLike,
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE text LIKE '%merge join%' ORDER BY doc_id""".stripMargin),
    Query("q05_join_orders_customer", Queries.joinOrdersCustomer,
      """SELECT c_mktsegment, COUNT(*) AS order_cnt,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |       AS VARCHAR) AS total_price_str
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    Query("q06_join_star_revenue", Queries.joinStarRevenue,
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) * 10000 AS BIGINT) AS revenue_e4,
        |  COUNT(*) AS line_cnt
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),
    Query("q07_semi_join_urgent", Queries.semiJoinUrgent,
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin),
    Query("q08_anti_join", Queries.antiJoinBigSpenders,
      """SELECT c_custkey, c_name, c_nationkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin),
    Query("q09_window_top_orders", Queries.windowTopOrders,
      """SELECT o_custkey, rnk, o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        CAST(row_number() OVER (PARTITION BY o_custkey
        |          ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rnk
        |      FROM orders) t
        |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin),
    Query("q10_topk_orders", Queries.topKOrders,
      """SELECT o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin),
    Query("q11_count_distinct_lang", Queries.countDistinctByLang,
      """SELECT lang, COUNT(*) AS n_docs, COUNT(DISTINCT source) AS n_sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    Query("q12_split_part", Queries.splitPartCrack,
      """SELECT doc_id,
        |  split_part(lang || ' - ' || source, ' - ', 1) AS lang_part,
        |  split_part(lang || ' - ' || source, ' - ', 2) AS source_part
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("q13_setops_nations", Queries.setOpsNations,
      """SELECT 'both' AS tag, k FROM
        |  (SELECT c_nationkey AS k FROM customer
        |   INTERSECT
        |   SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000.0) a
        |UNION ALL
        |SELECT 'cust_only' AS tag, k FROM
        |  (SELECT c_nationkey AS k FROM customer
        |   EXCEPT
        |   SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000.0) b
        |ORDER BY tag, k""".stripMargin),
    Query("q14_events_hourly", Queries.eventsHourly,
      """SELECT CAST(epoch_us(CAST(date_trunc('hour', ts) AS TIMESTAMP)) AS BIGINT) AS h_us,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT) AS sum_value_e4
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("q15_json_props_agg", Queries.jsonPropsAgg,
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    Query("q16_dedup_exact", Queries.dedupExact,
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin),
    Query("q17_token_stats", Queries.tokenStats,
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(len(str_split(trim(text), ' '))) AS BIGINT) AS total_tokens,
        |  CAST(SUM(len(list_distinct(str_split(trim(text), ' ')))) AS BIGINT) AS total_distinct_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    Query("q18_token_count_regex", Queries.tokenCountRegex,
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("q19_knn_bruteforce", Queries.knnBruteForce,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |s AS (SELECT q.vec_id AS qid, x.vec_id AS nid,
        |        list_dot_product(q.v, x.v) / (q.nrm * x.nrm) AS score
        |      FROM n q, n x WHERE q.vec_id < 10 AND x.vec_id <> q.vec_id),
        |r AS (SELECT qid, nid,
        |        CAST(row_number() OVER (PARTITION BY qid
        |          ORDER BY score DESC, nid) AS INTEGER) AS rnk
        |      FROM s)
        |SELECT qid, rnk, nid FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin),
    Query("q20_view_high_value", Queries.viewHighValue,
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_c
        |FROM orders WHERE o_totalprice > 250000.0
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Query("q21_window_lag_events", Queries.windowLagEvents,
      """SELECT user_id, event_id, prev_event_id FROM
        |  (SELECT user_id, event_id, event_type,
        |     lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_event_id
        |   FROM events) t
        |WHERE event_type = 'purchase' ORDER BY user_id, event_id""".stripMargin),
    Query("q22_rollup_revenue", Queries.rollupRevenue,
      """SELECT coalesce(r_name, 'ALL') AS rname, coalesce(n_name, 'ALL') AS nname,
        |  COUNT(*) AS order_cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_price_c
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY rname, nname""".stripMargin),
    Query("q23_asof_join", Queries.asofPurchaseClick,
      """SELECT p.event_id, p.user_id, c.event_id AS asof_click_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin),
    Query("q24_range_join", Queries.rangeJoinClicksBeforePurchase,
      """SELECT p.event_id, CAST(COUNT(c.click_id) AS BIGINT) AS clicks_before
        |FROM (SELECT event_id, user_id AS p_user, ts AS p_ts
        |      FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT user_id AS c_user, ts AS c_ts, event_id AS click_id
        |           FROM events WHERE event_type = 'click') c
        |  ON p.p_user = c.c_user
        | AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR AND c.c_ts <= p.p_ts
        |GROUP BY p.event_id ORDER BY p.event_id""".stripMargin),
    Query("q25_char_counts", Queries.charCounts,
      """SELECT doc_id,
        |  CAST(length(text) AS INTEGER) AS n_chars,
        |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS INTEGER) AS n_digits,
        |  CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS INTEGER) AS n_spaces,
        |  CAST(length(regexp_replace(text, '[^aeiou]', '', 'g')) AS INTEGER) AS n_vowels
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("q26_orders_by_year", Queries.ordersByYear,
      """SELECT CAST(date_part('year', o_orderdate) AS INTEGER) AS yr,
        |  CAST(date_part('month', o_orderdate) AS INTEGER) AS mo,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_c
        |FROM orders GROUP BY yr, mo ORDER BY yr, mo""".stripMargin),
    Query("q27_string_funcs", Queries.stringFuncs,
      """SELECT c_custkey,
        |  upper(substr(c_name, 1, 4)) AS prefix_up,
        |  lower(c_mktsegment) AS seg_lo,
        |  c_mktsegment || '#' || CAST(c_custkey AS VARCHAR) AS tagged,
        |  CAST(length(c_name) AS INTEGER) AS name_len
        |FROM customer WHERE c_custkey <= 500 ORDER BY c_custkey""".stripMargin),
    Query("q28_pivot_segments", Queries.pivotSegments,
      """SELECT c_nationkey,
        |  CAST(COUNT(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 END) AS BIGINT) AS "AUTOMOBILE",
        |  CAST(COUNT(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 END) AS BIGINT) AS "BUILDING",
        |  CAST(COUNT(CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 END) AS BIGINT) AS "FURNITURE",
        |  CAST(COUNT(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 END) AS BIGINT) AS "HOUSEHOLD",
        |  CAST(COUNT(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 END) AS BIGINT) AS "MACHINERY"
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),
    Query("q29_scalar_subquery", Queries.scalarSubquery,
      """SELECT c_custkey,
        |  (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders,
        |  CAST(CAST((SELECT MAX(o_totalprice) FROM orders
        |        WHERE o_custkey = c_custkey) AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS max_price_c
        |FROM customer
        |WHERE c_custkey <= 300
        |ORDER BY c_custkey""".stripMargin),
    Query("q30_std_scan", Queries.stdScan, StdOracle.scan),
    Query("q31_std_group_count", Queries.stdGroupCount, StdOracle.groupCount),
    Query("q32_std_filter", Queries.stdFilter, StdOracle.filter),
    Query("q33_std_category_rollup", Queries.stdCategoryRollup,
      StdOracle.categoryRollup),
    Query("q34_similarity_join", Queries.similarityJoinStd,
      StdOracle.similarityJoin),
    Query("q35_dedup_fuzzy", Queries.dedupFuzzy, SfOracles.fuzzyDedup),
    Query("q36_dedup_simhash", Queries.dedupSimhash, SfOracles.simhashDedup),
    Query("q37_ngram_jaccard", Queries.ngramJaccardTop, SfOracles.ngramJaccard),
    Query("q38_knn_lsh", Queries.knnLsh, SfOracles.knnLsh),
    // Language-ID oracle: the UDF's exact algorithm in SQL — lowercase,
    // split \W+ (ASCII word chars in BOTH engines — Java \w and RE2 \w; the
    // profile entry 'für' is unreachable on both sides for the same
    // reason), count every token occurrence that hits a profile word,
    // argmax with lexicographic tie-break, 'und' when nothing scores.
    // Green ⇒ the langIdUdf itself is driver-verified.
    Query("q39_lang_id", Queries.langId,
      ("""WITH profiles(lang, word) AS (VALUES """ +
        graft.functions.TextAnalysis.profileSeq.map { case (l, w) =>
          s"('$l', '$w')"
        }.mkString(", ") +
        """),
        |toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '\W+'), t -> t <> '')) AS tok
        |  FROM documents),
        |hits AS (
        |  SELECT t.doc_id, p.lang, COUNT(*) AS n
        |  FROM toks t JOIN profiles p ON t.tok = p.word
        |  GROUP BY 1, 2),
        |best AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, lang) AS rk
        |  FROM hits WHERE n > 0)
        |SELECT d.doc_id,
        |  coalesce(b.lang, 'und') AS detected_lang
        |FROM documents d
        |LEFT JOIN (SELECT doc_id, lang FROM best WHERE rk = 1) b
        |  ON d.doc_id = b.doc_id
        |ORDER BY d.doc_id""").stripMargin),
    // q55's metric/blend mirror with the score surfaced as
    // round(raw·1e6)→BIGINT — same IEEE double tree on both engines,
    // both round half-away-from-zero, so the projection is exact.
    Query("q40_quality_scores", Queries.qualityScores,
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_tokens,
        |    CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS DOUBLE)
        |      / nullif(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE), 0.0)
        |      AS type_token_ratio,
        |    length(regexp_replace(text, '[^[:punct:]]', '', 'g')) * 1.0
        |      / nullif(length(text) * 1.0, 0.0) AS punct_ratio,
        |    length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
        |      / nullif(length(text) * 1.0, 0.0) AS digit_ratio
        |  FROM documents)
        |SELECT doc_id, n_tokens, type_token_ratio,
        |  CAST(ROUND((
        |    (CASE WHEN n_tokens BETWEEN 5 AND 10000 THEN 1.0 ELSE 0.25 END) * 0.4
        |    + (1.0 - least(punct_ratio * 4.0, 1.0)) * 0.2
        |    + (1.0 - least(digit_ratio * 4.0, 1.0)) * 0.2
        |    + least(coalesce(type_token_ratio, 0.0) * 2.0, 1.0) * 0.2
        |  ) * 1000000) AS BIGINT) AS quality_e6
        |FROM m ORDER BY doc_id""".stripMargin),
    // Exact replay of fingerprint64: per-token hash = first 16 md5 hex
    // digits as uint64, rolled as h*31+t in mod-2^64 (hugeint) arithmetic
    // with the same prime seed, then mapped to signed int64. Green ⇒ the
    // rolling fingerprint itself (not a proxy) is driver-verified.
    Query("q41_fingerprints", Queries.fingerprints,
      """SELECT doc_id,
        |  CAST(CASE WHEN hu >= 9223372036854775808::HUGEINT
        |            THEN hu - 18446744073709551616::HUGEINT ELSE hu END
        |       AS BIGINT) AS fingerprint
        |FROM (
        |  SELECT doc_id,
        |    CASE WHEN text IS NULL THEN 0::HUGEINT ELSE
        |      list_reduce(
        |        list_prepend(1125899906842597::HUGEINT,
        |          list_transform(
        |            list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> ''),
        |            t -> list_reduce(
        |                   list_transform(range(1, 17),
        |                     i -> CAST(strpos('0123456789abcdef',
        |                                      substring(md5(t), i, 1)) - 1 AS HUGEINT)),
        |                   (a, b) -> a * 16 + b))),
        |        (acc, x) -> (acc * 31 + x) % 18446744073709551616::HUGEINT)
        |    END AS hu
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin),
    Query("q42_knn_ivf", Queries.knnIvf, SfOracles.ivf),
    Query("q43_embedding_neardup", Queries.embeddingNearDup,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |s AS (SELECT q.vec_id AS qid, x.vec_id AS nid,
        |        list_dot_product(q.v, x.v) / (q.nrm * x.nrm) AS score
        |      FROM n q JOIN n x ON q.vec_id < 100 AND x.vec_id <> q.vec_id),
        |r AS (SELECT qid, nid, score,
        |        row_number() OVER (PARTITION BY qid
        |          ORDER BY score DESC, nid) AS rnk
        |      FROM s)
        |SELECT qid AS id_a, nid AS id_b FROM r WHERE rnk = 1
        |ORDER BY score DESC, qid, nid LIMIT 20""".stripMargin),
    // Recomputes q44's exact pixel stats straight from the text's UTF-8
    // bytes (hex-pair parse, 8-px-wide zero-padded layout) — green proves
    // the Spark side's BMP encode → header-walk decode → bottom-up row
    // flip → pixel walk round trip is lossless and correct.
    Query("q44_multimodal_features", Queries.multimodalFeatures,
      """WITH d AS (
        |  SELECT doc_id, upper(hex(encode(text))) AS hx,
        |         octet_length(encode(text)) AS len
        |  FROM documents),
        |dims AS (
        |  SELECT doc_id, hx, len,
        |    greatest(1::BIGINT, CAST(ceil(len / 24.0) AS BIGINT)) AS h
        |  FROM d),
        |px AS (
        |  SELECT doc_id, h, len, hx, u.p
        |  FROM dims, LATERAL unnest(range(0, h * 8)) u(p)),
        |vals AS (
        |  SELECT doc_id, h,
        |    CASE WHEN 3*p < len
        |      THEN (strpos('0123456789ABCDEF', substring(hx, (3*p)*2+1, 1))-1)*16
        |         + (strpos('0123456789ABCDEF', substring(hx, (3*p)*2+2, 1))-1)
        |      ELSE 0 END AS b,
        |    CASE WHEN 3*p+1 < len
        |      THEN (strpos('0123456789ABCDEF', substring(hx, (3*p+1)*2+1, 1))-1)*16
        |         + (strpos('0123456789ABCDEF', substring(hx, (3*p+1)*2+2, 1))-1)
        |      ELSE 0 END AS g,
        |    CASE WHEN 3*p+2 < len
        |      THEN (strpos('0123456789ABCDEF', substring(hx, (3*p+2)*2+1, 1))-1)*16
        |         + (strpos('0123456789ABCDEF', substring(hx, (3*p+2)*2+2, 1))-1)
        |      ELSE 0 END AS r
        |  FROM px)
        |SELECT doc_id AS media_id, 'image/bmp' AS format,
        |  8 AS width, CAST(h AS INTEGER) AS height,
        |  CAST(COUNT(*) AS BIGINT) AS n_px,
        |  CAST(SUM(b) AS BIGINT) AS sum_b, CAST(SUM(g) AS BIGINT) AS sum_g,
        |  CAST(SUM(r) AS BIGINT) AS sum_r,
        |  CAST(SUM(CASE WHEN ((b+g+r)//3)*13//256 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS lum0
        |FROM vals GROUP BY doc_id, h ORDER BY media_id""".stripMargin),
    Query("q45_text_udfs", Queries.textUdfs, SfOracles.textUdfs),
    Query("q46_similarity_join_generic", Queries.similarityJoinGeneric,
      SfOracles.simJoinGeneric),
    Query("q47_heavy_hitters", Queries.heavyHitterTokens,
      """SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM (SELECT unnest(str_split(trim(text), ' ')) AS token FROM documents) t
        |GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin),
    // Rebuilds every strided 16-byte frame slice from the text bytes and
    // hashes it the same way (md5 of uppercase hex) — the frame HASHES,
    // not just their counts, are oracle-checked.
    Query("q48_multimodal_frames", Queries.multimodalFrames,
      """WITH d AS (
        |  SELECT doc_id, upper(hex(encode(text))) AS hx,
        |         octet_length(encode(text)) AS len
        |  FROM documents
        |  WHERE octet_length(encode(text)) > 0),
        |f AS (
        |  SELECT md5(substring(hx, CAST(i*32+1 AS BIGINT), 32)) AS frame_hash, doc_id
        |  FROM d, LATERAL unnest(range(0, CAST(ceil(len/16.0) AS BIGINT))) u(i)
        |  WHERE i % 2 = 0)
        |SELECT frame_hash, CAST(COUNT(*) AS BIGINT) AS n_frames,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_media
        |FROM f GROUP BY 1
        |ORDER BY n_frames DESC, frame_hash ASC LIMIT 50""".stripMargin),
    Query("q49_similarity_join_threshold", Queries.similarityJoinThreshold,
      SfOracles.simJoinThreshold),
    Query("q50_embedding_dedup_clusters", Queries.embeddingDedupClusters,
      SfOracles.embeddingClusters),
    Query("q51_window_battery", Queries.windowBattery,
      """SELECT o_custkey, o_orderkey,
        |  CAST(rank() OVER w AS INTEGER) AS rnk,
        |  CAST(dense_rank() OVER w AS INTEGER) AS drnk,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  lead(o_orderkey) OVER w AS next_key,
        |  first_value(o_orderkey) OVER w AS best_key,
        |  nth_value(o_orderkey, 2) OVER
        |    (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_key,
        |  percent_rank() OVER w AS pct_rnk,
        |  cume_dist() OVER w AS cume,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
        |    (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    * 100 AS BIGINT) AS running_total_c
        |FROM orders
        |WHERE o_custkey <= 100
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_custkey, rnk""".stripMargin),
    // Flagship standardize_title golden: the oracle is the pinned fixture
    // itself (VALUES table) — engine-independent; see Queries.stdGolden.
    Query("q52_std_golden", Queries.stdGolden,
      Golden.exampleCorpus.oracleValuesSql),
    // Same gram definition as Dedup.shingles: lowercase, split \s+, drop
    // empties, word bigrams (or the whole token string when < n tokens),
    // distinct. Ints out; the float jaccard (one IEEE division) only orders.
    Query("q53_ngram_jaccard_exact", Queries.ngramJaccardExact,
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(ts) = 0 THEN []::VARCHAR[]
        |         WHEN len(ts) < 2 THEN [array_to_string(ts, ' ')]
        |         ELSE list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])
        |    END) AS gs
        |  FROM toks),
        |g AS (SELECT doc_id, unnest(gs) AS gram FROM grams),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM g GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM g a JOIN g b ON a.gram = b.gram
        |  WHERE a.doc_id < 50 AND b.doc_id > a.doc_id
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
        |    CAST(sa.sz + sb.sz - inter AS BIGINT) AS un,
        |    CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jac
        |  FROM inter
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b)
        |SELECT id_a, id_b, inter, un FROM j
        |ORDER BY jac DESC, id_a, id_b LIMIT 20""".stripMargin),
    // Gap-based sessionization (30 min) at the sessionizer's own millis
    // precision; each user's trailing open session is not emitted.
    Query("q54_sessionize", Queries.sessionizeBatch,
      """WITH e AS (SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS t FROM events),
        |o AS (SELECT user_id, t,
        |        lag(t) OVER (PARTITION BY user_id ORDER BY t) AS pt FROM e),
        |s AS (SELECT user_id, t,
        |        CASE WHEN pt IS NULL OR t - pt > 1800000 THEN 1 ELSE 0 END AS brk
        |      FROM o),
        |g AS (SELECT user_id, t,
        |        SUM(brk) OVER (PARTITION BY user_id ORDER BY t
        |          ROWS UNBOUNDED PRECEDING) AS sid FROM s),
        |sess AS (SELECT user_id, sid, MIN(t) AS start_ms, MAX(t) AS end_ms,
        |           CAST(COUNT(*) AS INTEGER) AS n_events
        |         FROM g GROUP BY 1, 2),
        |last AS (SELECT user_id, MAX(sid) AS last_sid FROM sess GROUP BY 1)
        |SELECT s.user_id, s.start_ms, s.end_ms, s.n_events
        |FROM sess s JOIN last l ON s.user_id = l.user_id AND s.sid < l.last_sid
        |ORDER BY s.user_id, s.start_ms""".stripMargin),
    // Exact mirror of TextAnalysis.qualityMetrics/qualityScoreRaw: same
    // token semantics (split(trim(x),'\s+') — empty text gives one empty
    // token), same regex classes (Java \p{Punct} = RE2 [[:punct:]], ASCII),
    // same IEEE expression tree → bit-identical float64 outputs.
    Query("q55_quality_exact", Queries.qualityExact,
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_tokens,
        |    CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS INTEGER) AS n_distinct,
        |    CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS DOUBLE)
        |      / nullif(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE), 0.0) AS ttr,
        |    length(regexp_replace(text, '[^[:punct:]]', '', 'g')) * 1.0
        |      / nullif(length(text) * 1.0, 0.0) AS punct_ratio,
        |    length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
        |      / nullif(length(text) * 1.0, 0.0) AS digit_ratio
        |  FROM documents)
        |SELECT doc_id, n_tokens, n_distinct, ttr,
        |  (CASE WHEN n_tokens BETWEEN 5 AND 10000 THEN 1.0 ELSE 0.25 END) * 0.4
        |    + (1.0 - least(punct_ratio * 4.0, 1.0)) * 0.2
        |    + (1.0 - least(digit_ratio * 4.0, 1.0)) * 0.2
        |    + least(coalesce(ttr, 0.0) * 2.0, 1.0) * 0.2 AS quality
        |FROM m ORDER BY doc_id""".stripMargin),
    // The Spark side round-trips through CSV/JSON files first; the oracle
    // aggregates the original parquet — green ⇒ the file formats are
    // lossless for these columns.
    Query("q56_csv_source", Queries.csvSource,
      """SELECT lang, source, COUNT(*) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin),
    Query("q57_json_source", Queries.jsonSource,
      """SELECT o_orderpriority, CAST(date_part('year', o_orderdate) AS INTEGER) AS yr,
        |  COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // Deterministic split oracle: md5 hex is engine-identical, so each
    // row's train/val/test assignment is recomputed exactly. Thresholds
    // are floor(cum*65536) as 4-hex-char lowercase strings (0.9 -> 'e666',
    // 0.95 -> 'f333'), compared lexicographically.
    Query("q58_train_split", Queries.splitStats,
      """SELECT doc_id,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'f333' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin),
    // Tolerance-bounded as-of: nearest click at-or-before, masked NULL if
    // older than 1 hour. ts cast to micros TIMESTAMP so both engines
    // compare at the same precision; tie-break = max click_id at equal ts
    // (matches the window sort in AsOfJoin).
    Query("q59_asof_tolerance", Queries.asofToleranceClick,
      """SELECT p.event_id, p.user_id, c.click_id AS asof_click_id
        |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |      FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id AS click_id
        |           FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
        |QUALIFY row_number() OVER (PARTITION BY p.event_id
        |  ORDER BY c.ts DESC, c.click_id DESC) = 1
        |ORDER BY p.event_id""".stripMargin),
    Query("q60_cube_revenue", Queries.cubeRevenue,
      """SELECT coalesce(c_mktsegment, 'ALL') AS seg,
        |  coalesce(o_orderpriority, 'ALL') AS prio,
        |  CAST(GROUPING(c_mktsegment) AS INTEGER) AS g_seg,
        |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_prio,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_c
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY CUBE(c_mktsegment, o_orderpriority)
        |ORDER BY seg, prio""".stripMargin),
    Query("q61_setops_all", Queries.setOpsAll,
      """SELECT tag, k, COUNT(*) AS n FROM (
        |  SELECT 'inter_all' AS tag, k FROM
        |    (SELECT c_nationkey AS k FROM customer
        |     INTERSECT ALL
        |     SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000.0) a
        |  UNION ALL
        |  SELECT 'except_all' AS tag, k FROM
        |    (SELECT c_nationkey AS k FROM customer
        |     EXCEPT ALL
        |     SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000.0) b) t
        |GROUP BY tag, k ORDER BY tag, k""".stripMargin),
    // End-to-end pipeline oracle: every stage (dedup keep-first, quality
    // blend, lang filter, md5 split, rollup) mirrored in SQL — verifies
    // the COMPOSITION, not just the operators.
    Query("q62_pipeline_e2e", Queries.pipelineE2E,
      """WITH deduped AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |    FROM documents) WHERE rn = 1),
        |m AS (
        |  SELECT doc_id, text, lang, source,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_tokens,
        |    CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS DOUBLE)
        |      / nullif(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE), 0.0) AS ttr,
        |    length(regexp_replace(text, '[^[:punct:]]', '', 'g')) * 1.0
        |      / nullif(length(text) * 1.0, 0.0) AS punct_ratio,
        |    length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
        |      / nullif(length(text) * 1.0, 0.0) AS digit_ratio
        |  FROM deduped),
        |scored AS (
        |  SELECT doc_id, text, lang, source,
        |    (CASE WHEN n_tokens BETWEEN 5 AND 10000 THEN 1.0 ELSE 0.25 END) * 0.4
        |      + (1.0 - least(punct_ratio * 4.0, 1.0)) * 0.2
        |      + (1.0 - least(digit_ratio * 4.0, 1.0)) * 0.2
        |      + least(coalesce(ttr, 0.0) * 2.0, 1.0) * 0.2 AS quality
        |  FROM m),
        |kept AS (
        |  SELECT doc_id, text, source,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'train'
        |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'f333' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM scored WHERE quality >= 0.5 AND lang = 'en')
        |SELECT split, COUNT(*) AS n_docs,
        |  CAST(SUM(length(text)) AS BIGINT) AS total_chars,
        |  COUNT(DISTINCT source) AS n_sources
        |FROM kept GROUP BY split ORDER BY split""".stripMargin),
    Query("q63_approx_aggs", Queries.approxAggs),
    // Sequence-packing oracle: same sharded cumsum + integer floor
    // division (Spark `div` = DuckDB `//` on non-negative BIGINTs).
    Query("q64_sequence_packing", Queries.sequencePacking,
      """WITH t AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, shard, n_toks,
        |    SUM(n_toks) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum_end
        |  FROM t),
        |p AS (SELECT shard, CAST((cum_end - n_toks) // 256 AS BIGINT) AS pack,
        |        n_toks FROM c)
        |SELECT shard, pack, COUNT(*) AS n_docs,
        |  CAST(SUM(n_toks) AS BIGINT) AS pack_tokens
        |FROM p GROUP BY shard, pack ORDER BY shard, pack""".stripMargin),
    // Gopher rule battery: every metric is integer arithmetic over the
    // same token/gram definitions as CorpusFilters (split \s+ lowercased,
    // empties dropped; n-grams space-joined) — engine-exact.
    Query("q65_gopher_rules", Queries.gopherRules,
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(ts) AS BIGINT) AS n_words,
        |    CAST(len(list_distinct(ts)) AS BIGINT) AS n_distinct_words,
        |    CAST(coalesce(list_sum(list_transform(ts, t -> len(t))), 0) AS BIGINT) AS n_word_chars,
        |    CAST(len(list_filter(ts, t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS n_alpha_words,
        |    CAST(len(list_filter(ts, t ->
        |      t IN ('the','be','to','of','and','that','have','with'))) AS BIGINT) AS n_stopwords,
        |    CASE WHEN len(ts) < 2 THEN []::VARCHAR[]
        |         ELSE list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1]) END AS g2,
        |    CASE WHEN len(ts) < 3 THEN []::VARCHAR[]
        |         ELSE list_transform(range(1, len(ts)-1),
        |                i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) END AS g3
        |  FROM toks),
        |r AS (
        |  SELECT doc_id, n_words, n_distinct_words, n_word_chars, n_alpha_words, n_stopwords,
        |    CAST(len(g2) - len(list_distinct(g2)) AS BIGINT) AS dup_2grams,
        |    CAST(len(g2) AS BIGINT) AS n_2grams,
        |    CAST(len(g3) - len(list_distinct(g3)) AS BIGINT) AS dup_3grams,
        |    CAST(len(g3) AS BIGINT) AS n_3grams
        |  FROM m)
        |SELECT *, CAST(
        |    n_words BETWEEN 50 AND 100000
        |    AND n_word_chars BETWEEN 3 * n_words AND 10 * n_words
        |    AND n_alpha_words * 10 >= n_words * 8
        |    AND n_stopwords >= 1
        |    AND dup_2grams * 5 < n_2grams AS BOOLEAN) AS keep
        |FROM r ORDER BY doc_id""".stripMargin),
    // Chunk dedup: global first occurrence (doc_id, pos) wins; rebuild in
    // order; md5 hex is identical across engines. Chunk cap is derived
    // from the data, not hard-coded.
    Query("q66_chunk_dedup", Queries.chunkDedup,
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents),
        |chunks AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |         array_to_string(list_slice(ts, i*10+1, i*10+10), ' ') AS chunk
        |  FROM toks, (SELECT unnest(range(0, (SELECT max((len(ts) + 9) // 10) FROM toks))) AS i)
        |  WHERE i < (len(ts) + 9) // 10),
        |flagged AS (
        |  SELECT doc_id, pos, chunk,
        |         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
        |  FROM chunks),
        |rebuilt AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |         CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |         coalesce(string_agg(chunk, ' ' ORDER BY pos) FILTER (WHERE rn = 1), '') AS cleaned
        |  FROM flagged GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(r.n_chunks, 0) AS n_chunks,
        |       coalesce(r.n_kept, 0) AS n_kept,
        |       md5(coalesce(r.cleaned, '')) AS cleaned_md5
        |FROM toks t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
        |ORDER BY t.doc_id""".stripMargin),
    // Contamination: md5 split (same rule as q58), distinct 3-grams of
    // each test doc joined against all train grams.
    Query("q67_contamination", Queries.contamination,
      """WITH split AS (
        |  SELECT doc_id, text,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'train'
        |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'f333' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, split,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts
        |  FROM split WHERE split IN ('train','test')),
        |grams AS (
        |  SELECT doc_id, split, unnest(list_distinct(
        |    CASE WHEN len(ts) < 3 THEN []::VARCHAR[]
        |         ELSE list_transform(range(1, len(ts)-1),
        |                i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) END)) AS gram
        |  FROM toks),
        |train_grams AS (SELECT DISTINCT gram FROM grams WHERE split = 'train'),
        |test_docs AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
        |  FROM grams WHERE split = 'test' GROUP BY doc_id),
        |shared AS (
        |  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_shared
        |  FROM grams g JOIN train_grams t ON g.gram = t.gram
        |  WHERE g.split = 'test' GROUP BY g.doc_id)
        |SELECT d.doc_id, d.n_grams,
        |       CAST(coalesce(s.n_shared, 0) AS BIGINT) AS n_shared,
        |       CAST(coalesce(s.n_shared, 0) * 2 >= d.n_grams AS BOOLEAN) AS contaminated
        |FROM test_docs d LEFT JOIN shared s ON d.doc_id = s.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    // Exact positional quantiles: value at sorted index ceil(p*n) — an
    // actual data value, integer-exact (interpolating percentile was
    // rejected round 2 as engine-specific).
    Query("q68_quantiles_exact", Queries.quantilesExact,
      """WITH j AS (
        |  SELECT c.c_mktsegment,
        |         CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS total_c
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |r AS (
        |  SELECT c_mktsegment, total_c,
        |         row_number() OVER (PARTITION BY c_mktsegment ORDER BY total_c) AS rn,
        |         count(*) OVER (PARTITION BY c_mktsegment) AS n
        |  FROM j)
        |SELECT c_mktsegment, CAST(max(n) AS BIGINT) AS n_orders,
        |  max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN total_c END) AS p50_c,
        |  max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN total_c END) AS p90_c,
        |  max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN total_c END) AS p99_c
        |FROM r GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    // Same content-stable md5 draw as Sampling.capPerGroup.
    Query("q69_domain_cap", Queries.domainCap,
      """WITH r AS (
        |  SELECT source, doc_id,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS draw_rank
        |  FROM documents)
        |SELECT source, CAST(draw_rank AS BIGINT) AS draw_rank, doc_id
        |FROM r WHERE draw_rank <= 20 ORDER BY source, draw_rank""".stripMargin),
    // weight_sqrt = sqrt(n_docs/total): correctly-rounded IEEE div+sqrt on
    // integer inputs, no cross-row float summation ⇒ bit-identical.
    Query("q70_mixture_weights", Queries.mixtureWeights,
      """WITH s AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> t <> ''))) AS BIGINT) AS n_words
        |  FROM documents GROUP BY source),
        |t AS (SELECT s.*, sum(n_docs) OVER () AS total_docs FROM s)
        |SELECT source, n_docs, n_words,
        |  sqrt(CAST(n_docs AS DOUBLE) / CAST(total_docs AS DOUBLE)) AS weight_sqrt
        |FROM t ORDER BY source""".stripMargin),
    // PII scrub: both engines inject the identical synthetic dirt (a pure
    // function of doc_id), then count/replace with the SAME runtime
    // pattern strings (interpolated from CorpusFilters.PiiPatterns —
    // RE2/Java-identical subset, no backrefs/lookaround). Replacement
    // order matters (email before IP) and is the foldLeft order.
    Query("q71_pii_redaction", Queries.piiRedaction, {
      val Seq((email, _), (phone, _), (ip, _)) =
        graft.operators.CorpusFilters.PiiPatterns
      s"""WITH dirty AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@example.com or +1 555 '
        |      || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
        |      || ' 0199 host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' AS dirty
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(dirty, '$email')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(dirty, '$phone')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(dirty, '$ip')) AS BIGINT) AS n_ips,
        |  md5(regexp_replace(regexp_replace(regexp_replace(dirty,
        |    '$email', '<EMAIL>', 'g'),
        |    '$phone', '<PHONE>', 'g'),
        |    '$ip', '<IP>', 'g')) AS redacted_md5
        |FROM dirty ORDER BY doc_id""".stripMargin
    }),
    // Intra-doc chunk dedup — q66's oracle shape with chunkTokens=3 and
    // the first-occurrence window keyed WITHIN the document.
    Query("q72_repetition_removal", Queries.repetitionRemoval,
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents),
        |chunks AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |         array_to_string(list_slice(ts, i*3+1, i*3+3), ' ') AS chunk
        |  FROM toks, (SELECT unnest(range(0, (SELECT max((len(ts) + 2) // 3) FROM toks))) AS i)
        |  WHERE i < (len(ts) + 2) // 3),
        |flagged AS (
        |  SELECT doc_id, pos, chunk,
        |         row_number() OVER (PARTITION BY doc_id, chunk ORDER BY pos) AS rn
        |  FROM chunks),
        |rebuilt AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |         CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |         coalesce(string_agg(chunk, ' ' ORDER BY pos) FILTER (WHERE rn = 1), '') AS cleaned
        |  FROM flagged GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(r.n_chunks, 0) AS n_chunks,
        |       coalesce(r.n_kept, 0) AS n_kept,
        |       md5(coalesce(r.cleaned, '')) AS cleaned_md5
        |FROM toks t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
        |ORDER BY t.doc_id""".stripMargin),
    // Length-outlier trim: same histogram + cumulative-count rank
    // arithmetic; the 5%/95% thresholds compare cum against the SAME
    // float division ((n*5+99)/100 — `/` is double division in BOTH
    // engines; Spark Column `/` on longs is Divide→double).
    Query("q73_length_trim", Queries.lengthTrim,
      """WITH lens AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> t <> '')) AS BIGINT) AS n_words
        |  FROM documents),
        |hist AS (SELECT n_words, count(*) AS cnt FROM lens GROUP BY n_words),
        |cum AS (
        |  SELECT n_words,
        |    sum(cnt) OVER (ORDER BY n_words ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(cnt) OVER () AS n
        |  FROM hist),
        |b AS (
        |  SELECT min(CASE WHEN cum >= (n*5+99)/100 THEN n_words END) AS lo,
        |         min(CASE WHEN cum >= (n*95+99)/100 THEN n_words END) AS hi
        |  FROM cum)
        |SELECT l.doc_id, l.n_words, b.lo, b.hi
        |FROM lens l, b WHERE l.n_words BETWEEN b.lo AND b.hi
        |ORDER BY l.doc_id""".stripMargin),
    // Keep-newest snapshot: micros truncation on both sides (Spark
    // `ts div 1000` on raw nanos; DuckDB TIMESTAMP_NS→TIMESTAMP cast),
    // event_id desc breaks equal-micros ties — same as q59's precedent.
    Query("q74_keep_latest", Queries.keepLatest,
      """SELECT user_id, event_type, event_id AS latest_event,
        |  CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS latest_us
        |FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id, event_type
        |  ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC, event_id DESC) = 1
        |ORDER BY user_id, event_type""".stripMargin),
    // Engine-independent VALUES-table golden (same pattern as q52).
    Query("q75_normalize_golden", Queries.normalizeGolden,
      graft.functions.NormalizeGolden.oracleValuesSql),
    // All-integer keyword ranking: tf desc, corpus df asc, term asc.
    Query("q76_keyword_extract", Queries.keywordExtract,
      """WITH terms AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), t -> t <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |r AS (
        |  SELECT t.doc_id, t.term, t.tf, d.df,
        |    row_number() OVER (PARTITION BY t.doc_id
        |      ORDER BY t.tf DESC, d.df ASC, t.term ASC) AS rnk
        |  FROM tf t JOIN dfreq d USING (term))
        |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, tf, df
        |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin),
    // Correlated EXISTS / NOT EXISTS — identical ANSI text in both engines.
    Query("q77_exists_subquery", Queries.existsSubquery,
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderpriority = '1-URGENT')
        |  AND NOT EXISTS (SELECT 1 FROM orders o2
        |                  WHERE o2.o_custkey = c.c_custkey
        |                    AND o2.o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin),
    // posexplode mirror: 0-based positions over the filtered token list.
    Query("q78_lateral_explode", Queries.lateralExplode,
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents WHERE doc_id < 20)
        |SELECT doc_id, CAST(i AS INTEGER) AS pos, ts[i+1] AS term
        |FROM toks, (SELECT unnest(range(0, (SELECT max(len(ts)) FROM toks))) AS i)
        |WHERE i < len(ts)
        |ORDER BY doc_id, pos""".stripMargin),
    // RE2-safe regexp battery; DuckDB needs the explicit 'g' flag where
    // Spark's regexp_replace is global by default. coalesce guards the
    // no-match extract ('' in Spark).
    Query("q79_regexp_battery", Queries.regexpBattery,
      """SELECT doc_id,
        |  coalesce(regexp_extract(text, '([a-z]+a)', 1), '') AS first_a_word,
        |  CAST(len(regexp_extract_all(text, 'ta[a-z]*')) AS BIGINT) AS n_ta,
        |  md5(regexp_replace(text, '[aeiou]', '_', 'g')) AS devoweled_md5,
        |  regexp_matches(text, 'scan .* merge') AS scan_then_merge
        |FROM documents ORDER BY doc_id""".stripMargin),
    // Calendar battery: DuckDB dow is 0=Sunday (= Spark dayofweek-1);
    // date_part('week') is ISO week (= Spark weekofyear); date-date is
    // whole days.
    Query("q80_date_battery", Queries.dateBattery,
      """SELECT o_orderkey,
        |  CAST(date_part('year', o_orderdate) AS INTEGER) AS y,
        |  CAST(date_part('month', o_orderdate) AS INTEGER) AS m,
        |  CAST(date_part('day', o_orderdate) AS INTEGER) AS d,
        |  CAST(date_part('dow', o_orderdate) AS INTEGER) AS dow,
        |  CAST(date_part('doy', o_orderdate) AS INTEGER) AS doy,
        |  CAST(date_part('week', o_orderdate) AS INTEGER) AS iso_week,
        |  CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS INTEGER) AS days_since_95,
        |  CAST(date_diff('day', DATE '1970-01-01',
        |    CAST(date_trunc('month', o_orderdate) AS DATE)) AS INTEGER) AS month_start_day
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    // Sliding/range frames — identical ANSI text in both engines; integer
    // cents per the parity rules.
    Query("q81_sliding_frames", Queries.slidingFrames,
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(cents) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS BIGINT) AS centered_sum_c,
        |  CAST(MIN(cents) OVER (PARTITION BY o_custkey ORDER BY cents
        |    RANGE BETWEEN 100000 PRECEDING AND CURRENT ROW) AS BIGINT) AS range_min_c,
        |  CAST(COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |    ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS BIGINT) AS n_prev3
        |FROM (SELECT o_custkey, o_orderkey,
        |        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |      FROM orders)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),
    // Sliding windows: 1 h length / 30 min slide aligned to the epoch —
    // every event belongs to exactly len/slide = 2 windows, regenerated
    // here with the same floor-to-slide arithmetic Spark's window() uses.
    Query("q82_sliding_window", Queries.slidingWindowEvents,
      """WITH e AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS t_us, event_type, value
        |  FROM events),
        |w AS (
        |  SELECT t_us - (t_us % 1800000000) - k.k * 1800000000 AS w_start_us,
        |         event_type, value
        |  FROM e, (SELECT unnest([0, 1]) AS k) k)
        |SELECT w_start_us, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT) AS sum_value_e4
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // The Spark side writes a lang-partitioned parquet lake and reads it
    // back; the oracle aggregates the original table (same pattern as the
    // q56/q57 source round-trips, here for the SINK direction).
    Query("q83_partitioned_sink", Queries.partitionedSink,
      """SELECT lang, source, COUNT(*) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin),
    // The Spark side rewrites orders+customer as co-located bucketed
    // tables and joins them shuffle-free; the oracle joins the ORIGINAL
    // parquet, so green proves the bucketed layout round-trip is lossless.
    Query("q84_bucketed_join", Queries.bucketedJoin,
      """SELECT c_custkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |    AS total_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin),
    // Spark writes part as ORC and reads it back; oracle reads the
    // original parquet (same lossless-round-trip pattern as q56/q57/q83).
    Query("q85_orc_roundtrip", Queries.orcRoundTrip,
      """SELECT p_brand, COUNT(*) AS n, CAST(SUM(p_size) AS BIGINT) AS size_sum,
        |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |    AS retail_cents
        |FROM part WHERE p_size >= 10
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin),
    // FULL OUTER: both null sides must appear (orders of non-rich
    // customers; rich customers with no orders).
    Query("q86_full_outer_join", Queries.fullOuterJoin,
      """WITH rich AS (
        |  SELECT c_custkey,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS acctbal_c
        |  FROM customer WHERE c_acctbal > 7500),
        |pc AS (
        |  SELECT o_custkey, COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |      AS spend_c
        |  FROM orders GROUP BY o_custkey)
        |SELECT COALESCE(c_custkey, o_custkey) AS custkey,
        |  c_custkey IS NOT NULL AS is_rich,
        |  o_custkey IS NOT NULL AS has_orders,
        |  COALESCE(n_orders, 0) AS n_orders,
        |  COALESCE(spend_c, 0) AS spend_c,
        |  COALESCE(acctbal_c, 0) AS acctbal_c
        |FROM rich FULL OUTER JOIN pc ON c_custkey = o_custkey
        |ORDER BY custkey""".stripMargin),
    // Wide → long reshape regenerated with engine-independent UNION ALL.
    Query("q87_unpivot", Queries.unpivotMetrics,
      """WITH m AS (
        |  SELECT lang, COUNT(*) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |    CAST(MAX(n_chars) AS BIGINT) AS max_chars
        |  FROM documents GROUP BY lang)
        |SELECT lang, metric, value FROM (
        |  SELECT lang, 'n_docs' AS metric, n_docs AS value FROM m
        |  UNION ALL SELECT lang, 'total_chars', total_chars FROM m
        |  UNION ALL SELECT lang, 'max_chars', max_chars FROM m)
        |ORDER BY lang, metric""".stripMargin),
    // Identical GROUPING SETS syntax; GROUPING() cast to INT on both
    // sides (Spark returns TINYINT, DuckDB BIGINT) and NULLS FIRST made
    // explicit (DuckDB defaults to NULLS LAST on ASC, Spark to FIRST).
    Query("q88_grouping_sets", Queries.groupingSets,
      """SELECT lang, source, CAST(GROUPING(lang) AS INT) AS g_lang,
        |  CAST(GROUPING(source) AS INT) AS g_source, COUNT(*) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents
        |GROUP BY GROUPING SETS ((lang, source), (lang), (source), ())
        |ORDER BY g_lang, g_source, lang NULLS FIRST, source NULLS FIRST""".stripMargin),
    // Correlated scalar subquery, decorrelated by both planners; the
    // mean is SUM/COUNT in DOUBLE so both engines compare the identical
    // IEEE value (AVG over DECIMAL differs in result type between them).
    Query("q89_segment_scalar_subquery", Queries.segmentScalarSubquery,
      """SELECT o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c
        |FROM orders o JOIN customer c ON o_custkey = c_custkey
        |WHERE CAST(o_totalprice AS DECIMAL(18,2)) * 2 >
        |  (SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |          / COUNT(*)
        |   FROM orders o2 JOIN customer c2 ON o2.o_custkey = c2.c_custkey
        |   WHERE c2.c_mktsegment = c.c_mktsegment)
        |ORDER BY o_orderkey""".stripMargin),
    // Dense hour grid from the min/max bounds; silent (hour, type) cells
    // zero-filled — regenerated with generate_series + cross join.
    Query("q90_gap_fill", Queries.gapFillHourly,
      """WITH e AS (
        |  SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS h_us,
        |         event_type
        |  FROM events),
        |b AS (SELECT MIN(h_us) AS lo, MAX(h_us) AS hi FROM e),
        |g AS (SELECT UNNEST(generate_series(lo, hi, 3600000000)) AS h_us FROM b),
        |t AS (SELECT DISTINCT event_type FROM e),
        |h AS (SELECT h_us, event_type, COUNT(*) AS n FROM e GROUP BY 1, 2)
        |SELECT g.h_us, t.event_type, COALESCE(h.n, 0) AS n
        |FROM g CROSS JOIN t
        |LEFT JOIN h ON h.h_us = g.h_us AND h.event_type = t.event_type
        |ORDER BY g.h_us, t.event_type""".stripMargin),
    // Blocked record linkage: identical block keys (brand × size//5 —
    // both engines floor-divide positives) and identical classic
    // Levenshtein. The filter re-states the distance because DuckDB has
    // no column alias in WHERE.
    Query("q91_string_distance", Queries.stringDistancePairs,
      """SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_size // 5 = b.p_size // 5
        | AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 3
        |ORDER BY a_key, b_key""".stripMargin),
    // Spark higher-order functions vs DuckDB list lambdas; distinct is
    // re-sorted before slicing (DuckDB list_distinct order is
    // unspecified), and both sort orders are plain byte order.
    Query("q92_array_battery", Queries.arrayBattery,
      """SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_toks,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
        |  CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum')
        |    AS BIGINT) AS total_len,
        |  CAST(list_aggregate(list_transform(toks, t -> length(t)), 'max')
        |    AS BIGINT) AS longest,
        |  array_to_string(list_sort(list_distinct(toks))[1:3], '|') AS first3
        |FROM (SELECT doc_id,
        |        list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                    t -> t != '') AS toks
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin),
    // Both engines use the classic a + f*(b-a) continuous quantile; ×4
    // makes every quartile of integer cents an exact integer (all
    // intermediate doubles exact below 2^26), so BIGINT casts agree.
    Query("q93_quartiles_interp", Queries.quartilesInterp,
      """SELECT c_mktsegment,
        |  CAST(quantile_cont(c, 0.25) * 4 AS BIGINT) AS p25_x4,
        |  CAST(quantile_cont(c, 0.5)  * 4 AS BIGINT) AS p50_x4,
        |  CAST(quantile_cont(c, 0.75) * 4 AS BIGINT) AS p75_x4,
        |  COUNT(*) AS n
        |FROM (SELECT c_mktsegment,
        |        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |      FROM orders JOIN customer ON o_custkey = c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    // DuckDB 1.0 has no width_bucket — the oracle states the exact
    // formula with power-of-two bounds (width 2^20: the double division
    // is exact, so FLOOR agrees bit-for-bit with Spark's builtin),
    // including the 0 / n+1 out-of-range edge buckets.
    Query("q94_width_bucket", Queries.widthBucketHistogram,
      """WITH o AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |                       AS BIGINT) AS c FROM orders)
        |SELECT CASE WHEN c >= 67108864 THEN 65
        |            WHEN c < 0 THEN 0
        |            ELSE CAST(FLOOR(c / 1048576.0) AS BIGINT) + 1 END AS bucket,
        |  COUNT(*) AS n, CAST(SUM(c) AS BIGINT) AS sum_c
        |FROM o GROUP BY 1 ORDER BY bucket""".stripMargin),
    Query("q95_conditional_battery", Queries.conditionalBattery,
      """WITH o AS (SELECT o_orderkey, o_orderstatus, o_orderpriority,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM orders)
        |SELECT o_orderkey,
        |  CASE WHEN c >= 30000000 THEN 'high'
        |       WHEN c >= 10000000 THEN 'mid' ELSE 'low' END AS band,
        |  COALESCE(NULLIF(o_orderpriority, '3-MEDIUM'), 'other') AS prio,
        |  GREATEST(c, 5000000) AS floor_c,
        |  LEAST(c, 40000000) AS cap_c,
        |  (o_orderstatus = 'O' AND c > 20000000) AS big_open
        |FROM o ORDER BY o_orderkey""".stripMargin),
    // UTC both sides; date_part('second') truncates like Spark second();
    // strftime %H:%M == date_format HH:mm.
    Query("q96_timestamp_battery", Queries.timestampBattery,
      """SELECT event_id,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |  CAST(date_part('hour', CAST(ts AS TIMESTAMP)) AS INT) AS h,
        |  CAST(date_part('minute', CAST(ts AS TIMESTAMP)) AS INT) AS mi,
        |  CAST(date_part('second', CAST(ts AS TIMESTAMP)) AS INT) AS s,
        |  epoch_us(date_trunc('minute', CAST(ts AS TIMESTAMP))) AS minute_us,
        |  epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP))) AS day_us,
        |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M') AS fmt
        |FROM events ORDER BY event_id""".stripMargin),
    // IGNORE NULLS forward fill over an identical explicit ROWS frame;
    // (us, event_id) is a total order so RANGE-vs-ROWS peers can't bite.
    // The raw double `value` passes through both engines unchanged.
    Query("q97_forward_fill", Queries.forwardFill,
      """SELECT user_id, us, event_id, last_purchase_value FROM (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
        |    last_value(CASE WHEN event_type = 'purchase' THEN value END
        |               IGNORE NULLS)
        |      OVER (PARTITION BY user_id
        |            ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS last_purchase_value
        |  FROM events WHERE user_id < 200)
        |ORDER BY user_id, us, event_id""".stripMargin),
    Query("q98_hll_sketches", Queries.hllSketches),
    // MERGE regenerated as the equivalent FULL OUTER JOIN (DuckDB 1.0
    // has no MERGE statement); both % operators agree on positives.
    Query("q99_merge_upsert", Queries.mergeUpsert,
      """WITH base AS (
        |  SELECT c_custkey AS key,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_c
        |  FROM customer WHERE c_custkey % 3 != 0),
        |delta AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |      AS spend_c
        |  FROM orders GROUP BY o_custkey)
        |SELECT COALESCE(key, o_custkey) AS custkey,
        |  COALESCE(bal_c, 0) + COALESCE(spend_c, 0) AS new_bal_c,
        |  key IS NOT NULL AS existed,
        |  o_custkey IS NOT NULL AS changed
        |FROM base FULL OUTER JOIN delta ON key = o_custkey
        |ORDER BY custkey""".stripMargin),
    Query("q100_scd2_intervals", Queries.scd2Intervals,
      """SELECT user_id, event_id, us AS valid_from_us,
        |  lead(us, 1) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |    AS valid_to_us,
        |  lead(us, 1) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |    IS NULL AS is_current
        |FROM (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |      FROM events WHERE user_id < 100)
        |ORDER BY user_id, valid_from_us, event_id""".stripMargin),
    // Each funnel stage is the MIN event strictly after the previous
    // stage; LEFT joins keep users that stall mid-funnel.
    Query("q101_funnel", Queries.funnelStages,
      """WITH e AS (SELECT user_id, event_type,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |v AS (SELECT user_id, MIN(us) AS v_us FROM e
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(us) AS c_us FROM e
        |      JOIN v ON e.user_id = v.user_id
        |      WHERE event_type = 'click' AND us > v_us GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(us) AS p_us FROM e
        |      JOIN c ON e.user_id = c.user_id
        |      WHERE event_type = 'purchase' AND us > c_us GROUP BY e.user_id)
        |SELECT v.user_id, v_us, c_us, p_us,
        |  1 + CAST(c_us IS NOT NULL AS INT) + CAST(p_us IS NOT NULL AS INT)
        |    AS stage
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |       LEFT JOIN p ON v.user_id = p.user_id
        |ORDER BY v.user_id""".stripMargin),
    // The Spark side aggregates twice through (key, salt); decimal
    // partials are exact, so the plain one-phase GROUP BY is the
    // ground truth the salted plan must reproduce bit-for-bit.
    Query("q102_salted_agg", Queries.saltedAgg,
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT)
        |    AS sum_value_e4
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    Query("q103_rolling_time_window", Queries.rollingTimeWindow,
      """SELECT user_id, us, event_id,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w * 10000 AS BIGINT)
        |    AS sum_1h_e4
        |FROM (SELECT user_id, event_id, value,
        |        epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |      FROM events WHERE user_id < 100)
        |WINDOW w AS (PARTITION BY user_id ORDER BY us
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, us, event_id""".stripMargin),
    // The Spark side rewrites events z-order-clustered and re-reads
    // through the box; the oracle runs the identical box on the
    // ORIGINAL parquet — lossless-round-trip pattern (q83/q84/q85).
    Query("q104_zorder_lake", Queries.zorderLake,
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT)
        |    AS sum_value_e4
        |FROM (SELECT event_type, value,
        |        epoch_us(CAST(ts AS TIMESTAMP)) AS us, user_id
        |      FROM events)
        |WHERE user_id BETWEEN 20 AND 60
        |  AND us BETWEEN 1704067200000000
        |            AND 1704067200000000 + 7 * 86400000000
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Ordered, BOUNDED per-user sequence: string_agg over the first 50
    // events by (us, event_id) mirrors the sorted-slice collect.
    Query("q105_event_sequences", Queries.eventSequences,
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS cnt
        |  FROM events)
        |SELECT user_id, CAST(MAX(cnt) AS BIGINT) AS n_events,
        |  string_agg(event_type, '>' ORDER BY rn) AS seq
        |FROM e WHERE rn <= 50
        |GROUP BY user_id ORDER BY user_id""".stripMargin),
    // Both engines emit compact declaration-ordered JSON; BIGINT json
    // values serialize without decoration on both sides.
    Query("q106_json_battery", Queries.jsonBattery,
      """SELECT event_id,
        |  json_extract_string(props, '$.k') AS k_str,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_parsed,
        |  to_json(struct_pack(t := event_type,
        |                      k := CAST(json_extract_string(props, '$.k')
        |                                AS BIGINT))) AS echo
        |FROM events ORDER BY event_id""".stripMargin),
    // Identical SQL-standard lateral text; the LIMIT is tie-broken on
    // the key so both engines return the same two rows per customer.
    Query("q107_lateral_topk", Queries.lateralTopK,
      """SELECT c_custkey, x.o_orderkey, x.price_c
        |FROM customer c,
        |LATERAL (SELECT o_orderkey,
        |           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |             AS price_c
        |         FROM orders o WHERE o.o_custkey = c.c_custkey
        |         ORDER BY price_c DESC, o_orderkey LIMIT 2) x
        |ORDER BY c_custkey, price_c DESC, o_orderkey""".stripMargin),
    // Identical WITH RECURSIVE text on both engines.
    Query("q108_recursive_walk", Queries.recursiveWalk,
      """WITH RECURSIVE edges AS (
        |  SELECT a.n_nationkey AS src, MIN(b.n_nationkey) AS dst
        |  FROM nation a JOIN nation b
        |    ON a.n_regionkey = b.n_regionkey AND b.n_nationkey > a.n_nationkey
        |  GROUP BY a.n_nationkey),
        |roots AS (
        |  SELECT n_regionkey AS region, MIN(n_nationkey) AS nk FROM nation
        |  GROUP BY n_regionkey),
        |reach(region, nk, depth) AS (
        |  SELECT region, nk, 0 FROM roots
        |  UNION ALL
        |  SELECT r.region, e.dst, r.depth + 1
        |  FROM reach r JOIN edges e ON e.src = r.nk)
        |SELECT region, CAST(COUNT(*) AS BIGINT) AS n_reached,
        |  CAST(MAX(depth) AS INT) AS max_depth,
        |  CAST(SUM(nk) AS BIGINT) AS sum_keys
        |FROM reach GROUP BY region ORDER BY region""".stripMargin),
    // NULLIF manufactures identical nulls on both engines; NULLS FIRST
    // is explicit because the engines' ASC defaults differ.
    Query("q109_null_semantics", Queries.nullSemantics,
      """WITH o AS (SELECT o_orderstatus AS st,
        |  NULLIF(o_orderpriority, '3-MEDIUM') AS p,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM orders)
        |SELECT st, p, COUNT(*) AS n_all, CAST(COUNT(p) AS BIGINT) AS n_p,
        |  (p IS NULL) AS p_is_null,
        |  (p IS NOT DISTINCT FROM '1-URGENT') AS nsd_urgent,
        |  CAST(SUM(c) AS BIGINT) AS sum_c
        |FROM o GROUP BY st, p
        |ORDER BY st, p NULLS FIRST""".stripMargin),
    // Positional unnest (1-based on both sides). FLOAT widens exactly to
    // DOUBLE, ×1e9 is the same IEEE product on both engines, and ROUND
    // is half-away-from-zero on both — so each value becomes the SAME
    // integer before the (exact) BIGINT sum. Decimal casts instead left
    // one half-ulp tie in 1.3M values rounding differently.
    Query("q110_embedding_centroids", Queries.embeddingCentroids,
      """SELECT label, CAST(pos AS INT) AS pos,
        |  CAST(SUM(CAST(ROUND(CAST(v AS DOUBLE) * 1000000000) AS BIGINT))
        |    AS BIGINT) AS sum_e9,
        |  COUNT(*) AS n
        |FROM (SELECT label, unnest(embedding) AS v,
        |             generate_subscripts(embedding, 1) AS pos
        |      FROM embeddings)
        |GROUP BY label, pos ORDER BY label, pos""".stripMargin),
    Query("q111_event_transitions", Queries.eventTransitions,
      """SELECT prev, next, COUNT(*) AS n FROM (
        |  SELECT lag(event_type, 1) OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS prev,
        |         event_type AS next
        |  FROM events)
        |WHERE prev IS NOT NULL
        |GROUP BY prev, next ORDER BY prev, next""".stripMargin),
    // The Spark side reads two differently-schemaed generations with
    // mergeSchema (old gen's `source` is NULL); the oracle applies the
    // same null-fill rule to the ORIGINAL table.
    Query("q112_schema_evolution", Queries.schemaEvolution,
      """SELECT lang,
        |  CASE WHEN doc_id % 2 = 0 THEN 'unknown'
        |       ELSE COALESCE(source, 'unknown') END AS source,
        |  COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1, 2 ORDER BY lang, source""".stripMargin),
    // share divides two exact BIGINT sums -> identical IEEE double on
    // both engines; rank over the 5 aggregated rows.
    Query("q113_share_of_total", Queries.shareOfTotal,
      """WITH seg AS (
        |  SELECT c_mktsegment,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |      AS rev_c
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_mktsegment)
        |SELECT c_mktsegment, rev_c,
        |  CAST(rev_c AS DOUBLE) / CAST(SUM(rev_c) OVER () AS DOUBLE) AS share,
        |  CAST(RANK() OVER (ORDER BY rev_c DESC) AS BIGINT) AS rnk
        |FROM seg ORDER BY c_mktsegment""".stripMargin),
    // The Spark side merges agg(delta) into agg(history); the oracle is
    // the FULL recompute — green proves the merge is exact.
    Query("q114_incremental_agg", Queries.incrementalAgg,
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT)
        |    AS sum_value_e4
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Both generations regenerated deterministically from the original
    // table; full-outer classification matched row-for-row.
    Query("q115_snapshot_diff", Queries.snapshotDiff,
      """WITH c AS (SELECT c_custkey,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_c
        |  FROM customer),
        |o AS (SELECT c_custkey AS k_old, bal_c AS bal_old FROM c
        |      WHERE c_custkey % 5 != 4),
        |n AS (SELECT c_custkey AS k_new,
        |        CASE WHEN c_custkey % 7 = 0 THEN bal_c + 100 ELSE bal_c END
        |          AS bal_new
        |      FROM c WHERE c_custkey % 3 != 0)
        |SELECT COALESCE(k_old, k_new) AS custkey,
        |  CASE WHEN k_old IS NULL THEN 'added'
        |       WHEN k_new IS NULL THEN 'removed'
        |       WHEN bal_old != bal_new THEN 'changed'
        |       ELSE 'unchanged' END AS change,
        |  COALESCE(bal_old, 0) AS bal_old,
        |  COALESCE(bal_new, 0) AS bal_new
        |FROM o FULL OUTER JOIN n ON k_old = k_new
        |ORDER BY custkey""".stripMargin),
    // Same md5-bucket machinery as q58; the per-row threshold is
    // printf('%04x', min(floor(least(n_chars/1000, 1)*65536), 65535)) —
    // identical double arithmetic and hex formatting on both engines.
    Query("q116_weighted_sample", Queries.weightedSample,
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
        |  printf('%04x', CAST(LEAST(FLOOR(LEAST(CAST(n_chars AS DOUBLE)
        |    / 1000.0, 1.0) * 65536.0), 65535.0) AS BIGINT))
        |ORDER BY doc_id""".stripMargin),
    Query("q117_minmax_normalize", Queries.minMaxNormalize,
      """SELECT doc_id, lang, n_chars,
        |  COALESCE(CAST(n_chars - mn AS DOUBLE)
        |    / NULLIF(CAST(mx - mn AS DOUBLE), 0.0), 0.0) AS scaled
        |FROM (SELECT doc_id, lang, n_chars,
        |        MIN(n_chars) OVER (PARTITION BY lang) AS mn,
        |        MAX(n_chars) OVER (PARTITION BY lang) AS mx
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin),
    // Identical FILTER-clause text on both engines; the filtered SUM is
    // NULL (not 0) for empty slices on both.
    Query("q118_filter_clause", Queries.filterClauseAgg,
      """SELECT o_orderpriority,
        |  COUNT(*) AS n_all,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS open_cents
        |FROM orders
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    // DuckDB 1.0 lacks the row-constructor IN syntax — the oracle is
    // the equivalent decomposition (priority pinned by the constant
    // column, membership on the key).
    Query("q119_tuple_in", Queries.tupleInSubquery,
      """SELECT o_orderkey, o_custkey
        |FROM orders
        |WHERE o_orderpriority = '1-URGENT'
        |  AND o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_acctbal > 9000)
        |ORDER BY o_orderkey""".stripMargin),
    // NTILE over a TOTAL order (cents, key) makes tile assignment
    // engine-identical.
    Query("q120_decile_binning", Queries.decileBinning,
      """WITH o AS (
        |  SELECT c_mktsegment, o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |t AS (
        |  SELECT c_mktsegment, c,
        |    CAST(NTILE(10) OVER (PARTITION BY c_mktsegment
        |                         ORDER BY c, o_orderkey) AS INT) AS decile
        |  FROM o)
        |SELECT c_mktsegment, decile,
        |  COUNT(*) AS n, MIN(c) AS lo_c, MAX(c) AS hi_c
        |FROM t
        |GROUP BY c_mktsegment, decile
        |ORDER BY c_mktsegment, decile""".stripMargin),
    // Engine-independent VALUES golden of the text-UDF family over the
    // pinned 104-title corpus (q52 pattern; fixture regenerated by
    // graft.tools.Golden text_udfs, drift-guarded by GoldenSpec).
    Query("q121_text_udfs_golden", Queries.textUdfsGolden,
      graft.Golden.textUdfs.oracleValuesSql),
    // Pinned decode-golden stats, hand-checkable from the fixture bytes:
    // bmp_2x2 channel sums over BGR (10..120), ppm round trip (both
    // header forms), WAV samples (1000,-1000,2000,-3000) -> sum/sumSq/
    // crossings, and the two must-reject payloads as ('none', zeros).
    Query("q122_multimodal_golden", Queries.multimodalGolden,
      """SELECT case_id, container, CAST(n_units AS BIGINT) AS n_units,
        |  CAST(s1 AS BIGINT) AS s1, CAST(s2 AS BIGINT) AS s2,
        |  CAST(s3 AS BIGINT) AS s3
        |FROM (VALUES
        |  ('bmp_2x2',       'bmp',  4,   220,      260, 300),
        |  ('ppm_2x1',       'ppm',  2,    50,       70,  90),
        |  ('ppm_crlf',      'ppm',  2,    50,       70,  90),
        |  ('wav_pcm',       'wav',  4, -1000, 15000000,   3),
        |  ('bmp_truncated', 'none', 0,     0,        0,   0),
        |  ('text_bytes',    'none', 0,     0,        0,   0)
        |) AS g(case_id, container, n_units, s1, s2, s3)
        |ORDER BY case_id""".stripMargin),
    // q123 runs the REAL streaming engine (file source -> watermarked
    // dropDuplicatesWithinWatermark -> AvailableNow -> parquet sink) and
    // projects only the dedup key columns, so whichever delivery the
    // state store kept, the result is exactly the distinct key set.
    Query("q123_watermark_dedup", Queries.watermarkDedupStream,
      """SELECT DISTINCT user_id, event_type,
        |  epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP))) AS ts_day_us
        |FROM events
        |ORDER BY user_id, event_type, ts_day_us""".stripMargin),
    // Interval join: click -> same-user purchases within the next 10
    // minutes, inclusive on both bounds (matches the streaming op's
    // r_ts >= ts AND r_ts <= ts + interval).
    Query("q124_interval_join", Queries.intervalJoinBatch,
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |             CAST(ts AS TIMESTAMP) AS t FROM events),
        |c AS (SELECT user_id, event_id AS click_id, t AS ct
        |      FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS purchase_id, t AS pt, value
        |      FROM e WHERE event_type = 'purchase')
        |SELECT c.user_id, c.click_id, p.purchase_id,
        |  epoch_us(c.ct) AS click_us, epoch_us(p.pt) AS purchase_us,
        |  CAST(CAST(p.value AS DECIMAL(18,4)) * 10000 AS BIGINT)
        |    AS purchase_value_e4
        |FROM c JOIN p
        |  ON c.user_id = p.user_id
        | AND p.pt >= c.ct AND p.pt <= c.ct + INTERVAL 10 MINUTE
        |ORDER BY c.user_id, c.click_id, p.purchase_id""".stripMargin),
    // Engine-independent VALUES golden of the MinHash+LSH fuzzy-dedup
    // pipeline over the constructed corpus (expected clusters re-derived
    // in pure JVM by DedupGolden.recompute; regenerated by
    // graft.tools.Golden dedup, drift-guarded by GoldenSpec).
    Query("q125_fuzzy_dedup_golden", Queries.fuzzyDedupGolden,
      graft.Golden.dedup.oracleValuesSql),
    // Constructed-truth ANN golden: expected rows are JVM-exact cosine
    // answers (AnnGolden.expectedTopK/expectedPairs); the Spark side runs
    // the distributed LSH / IVF / near-dup machinery.
    Query("q126_ann_golden", Queries.annGolden, graft.AnnGolden.oracleValuesSql),
    // Engine-independent VALUES golden of the ranked dictionary
    // similarity join over the pinned 104-title corpus (JVM re-derivation
    // in SimJoinGolden.recompute; regenerated by graft.tools.Golden
    // simjoin, drift-guarded by GoldenSpec).
    Query("q127_simjoin_golden", Queries.simJoinGolden,
      graft.Golden.simjoin.oracleValuesSql),
    // Engine-independent VALUES goldens for the generic similarity join
    // (topKAgainst + lossless thresholdJoin vs a JVM re-derivation of the
    // distributed-idf contract) and the simhash near-dup pairs (pigeonhole
    // banding vs brute-force all-pairs hamming).
    Query("q128_simjoin_generic_golden", Queries.simJoinGenericGolden,
      graft.Golden.simjoinGeneric.oracleValuesSql),
    Query("q129_simhash_golden", Queries.simhashGolden,
      graft.Golden.simhash.oracleValuesSql),
    // q130 pins the approximate-sketch family itself (HLL estimates,
    // approx_count_distinct, approx_percentile's rank guarantee) — the
    // family q63/q98 exercise on SF data — over a constructed input with
    // JVM-derivable exact truth; see SketchGolden's scaladoc for which
    // parts of each sketch are pinnable and why.
    Query("q130_sketch_golden", Queries.sketchGolden,
      graft.Golden.sketch.oracleValuesSql),
    // q131 replays events through the REAL streaming foreachBatch upsert
    // (8 micro-batches, generation-pointer snapshot); the payload is a
    // pure function of (key, ts), so the final snapshot is exactly the
    // deterministic row at each key's max event time — see
    // Queries.streamUpsert's scaladoc for the batch-boundary-invariance
    // argument.
    Query("q131_stream_upsert", Queries.streamUpsert,
      """WITH u AS (SELECT user_id AS key,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events)
        |SELECT key, CAST(MAX(ts_us) AS BIGINT) AS ts_us,
        |  md5(key::VARCHAR || ':' || MAX(ts_us)::VARCHAR) AS payload
        |FROM u GROUP BY key ORDER BY key""".stripMargin),
    // q132 replays events through the REAL mapGroupsWithState engine (8
    // micro-batches, update-mode foreachBatch sink); the final state per
    // user is its argmax-n_events update (count strictly monotone per
    // key), which equals the plain GROUP BY — see Queries.streamStateTotals
    // for the exact-integer-double argument that makes the sum order-proof.
    Query("q132_stream_state_totals", Queries.streamStateTotals,
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4)) * 10000) AS BIGINT)
        |    AS total_e4
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    // q133: ExactSubstr dedup (Lee et al. 2022) — a k-gram is duplicated
    // if it occurs >= 2 times anywhere in the corpus (including the same
    // doc); hit spans [pos, pos+7] merge when overlapping or adjacent
    // (gaps-and-islands on the running max end); cleaned text drops every
    // covered token. Token space = lowercased whitespace split, empties
    // dropped — identical to the Spark side, so md5 compares bit-exact.
    Query("q133_substring_dedup", Queries.substringDedup,
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |         array_to_string(list_slice(ts, i, i+7), ' ') AS gram
        |  FROM toks, (SELECT unnest(range(1, (SELECT max(len(ts)) FROM toks) + 1)) AS i)
        |  WHERE i <= len(ts) - 7),
        |dupg AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
        |hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN dupg d ON g.gram = d.gram),
        |brk AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos > coalesce(max(pos + 7) OVER (
        |        PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM hits),
        |isl AS (
        |  SELECT doc_id, pos,
        |    sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM brk),
        |spans AS (
        |  SELECT doc_id, island, min(pos) AS s, max(pos) + 7 AS e
        |  FROM isl GROUP BY doc_id, island),
        |positions AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS p, ts[i] AS tok
        |  FROM toks, (SELECT unnest(range(1, (SELECT max(len(ts)) FROM toks) + 1)) AS i)
        |  WHERE i <= len(ts)),
        |kept AS (
        |  SELECT po.doc_id,
        |         coalesce(string_agg(po.tok, ' ' ORDER BY po.p), '') AS cleaned
        |  FROM positions po
        |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
        |                    WHERE sp.doc_id = po.doc_id
        |                      AND po.p BETWEEN sp.s AND sp.e)
        |  GROUP BY po.doc_id),
        |stats AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |         CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens
        |  FROM spans GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens,
        |       coalesce(st.n_spans, 0) AS n_spans,
        |       coalesce(st.dup_tokens, 0) AS dup_tokens,
        |       md5(coalesce(k.cleaned,
        |           CASE WHEN st.doc_id IS NULL THEN array_to_string(t.ts, ' ')
        |                ELSE '' END)) AS cleaned_md5
        |FROM toks t
        |LEFT JOIN stats st ON t.doc_id = st.doc_id
        |LEFT JOIN kept k ON t.doc_id = k.doc_id
        |ORDER BY t.doc_id""".stripMargin),
    // q134: add-one bigram LM trained on the corpus itself;
    // P(w2|w1) = (c(w1 w2)+1)/(c(w1)+V) with c(w1) = total corpus
    // occurrences and V = vocab size. Each occurrence's -ln P is rounded
    // to e4 fixed-point nats BEFORE the per-doc sum, so both engines sum
    // BIGINTs (order-proof); ln inputs are exact small-integer ratios,
    // and e4 granularity absorbs the engines' ulp-level ln differences.
    Query("q134_lm_perplexity", Queries.lmPerplexity,
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents),
        |uni AS (
        |  SELECT unnest(ts) AS w1 FROM toks),
        |uni_counts AS (
        |  SELECT w1, CAST(count(*) AS BIGINT) AS c_uni FROM uni GROUP BY w1),
        |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni_counts),
        |bigrams AS (
        |  SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
        |  FROM toks, (SELECT unnest(range(1, (SELECT max(len(ts)) FROM toks) + 1)) AS i)
        |  WHERE i <= len(ts) - 1),
        |bg_counts AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_bg
        |  FROM bigrams GROUP BY w1, w2),
        |scored AS (
        |  SELECT b.doc_id,
        |    CAST(round(-ln(CAST(c.c_bg + 1 AS DOUBLE) / (u.c_uni + v.v)) * 1e4)
        |         AS BIGINT) AS nll_term_e4
        |  FROM bigrams b
        |  JOIN bg_counts c ON b.w1 = c.w1 AND b.w2 = c.w2
        |  JOIN uni_counts u ON b.w1 = u.w1
        |  CROSS JOIN v),
        |per_doc AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |         CAST(sum(nll_term_e4) AS BIGINT) AS nll_e4
        |  FROM scored GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(p.n_bigrams, 0) AS n_bigrams,
        |       coalesce(p.nll_e4, 0) AS nll_e4
        |FROM toks t LEFT JOIN per_doc p ON t.doc_id = p.doc_id
        |ORDER BY t.doc_id""".stripMargin),
    // q135: incremental ingest dedup — odd doc_ids (incoming) classified
    // against even doc_ids (history) and earlier same-batch rows by
    // normalized-content md5; lowest incoming doc_id wins within batch.
    Query("q135_incremental_dedup", Queries.incrementalDedup,
      """WITH keyed AS (
        |  SELECT doc_id,
        |    md5(coalesce(array_to_string(
        |      list_filter(string_split_regex(lower(text), '\s+'), t -> t <> ''),
        |      ' '), '')) AS key_md5
        |  FROM documents),
        |inc AS (SELECT * FROM keyed WHERE doc_id % 2 = 1),
        |hist AS (SELECT DISTINCT key_md5 FROM keyed WHERE doc_id % 2 = 0),
        |first_in_batch AS (
        |  SELECT key_md5, min(doc_id) AS first_id FROM inc GROUP BY key_md5)
        |SELECT i.doc_id, i.key_md5,
        |  CASE WHEN h.key_md5 IS NOT NULL THEN 'dup_history'
        |       WHEN i.doc_id > f.first_id THEN 'dup_batch'
        |       ELSE 'new' END AS status
        |FROM inc i
        |LEFT JOIN hist h ON i.key_md5 = h.key_md5
        |JOIN first_in_batch f ON i.key_md5 = f.key_md5
        |ORDER BY i.doc_id""".stripMargin),
    // q136: held-out bigram LM — counts come from the 80% train split
    // only, the 20% held-out split is scored with LEFT probe joins and
    // add-one backoff: P = (coalesce(c_bg,0)+1)/(coalesce(c_uni,0)+V)
    // covers seen / unseen-bigram / unseen-word in one formula (an
    // unseen w1 cannot have a training bigram). Same e4 fixed-point
    // BIGINT-sum exactness contract as q134.
    Query("q136_lm_heldout", Queries.lmHeldOut,
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents),
        |train AS (SELECT * FROM toks WHERE doc_id % 5 < 4),
        |score AS (SELECT * FROM toks WHERE doc_id % 5 = 4),
        |uni_counts AS (
        |  SELECT w1, CAST(count(*) AS BIGINT) AS c_uni
        |  FROM (SELECT unnest(ts) AS w1 FROM train) GROUP BY w1),
        |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni_counts),
        |train_bigrams AS (
        |  SELECT ts[i] AS w1, ts[i+1] AS w2
        |  FROM train, (SELECT unnest(range(1, (SELECT max(len(ts)) FROM toks) + 1)) AS i)
        |  WHERE i <= len(ts) - 1),
        |bg_counts AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_bg
        |  FROM train_bigrams GROUP BY w1, w2),
        |score_bigrams AS (
        |  SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
        |  FROM score, (SELECT unnest(range(1, (SELECT max(len(ts)) FROM toks) + 1)) AS i)
        |  WHERE i <= len(ts) - 1),
        |scored AS (
        |  SELECT b.doc_id,
        |    CASE WHEN c.c_bg IS NULL THEN 1 ELSE 0 END AS oov_term,
        |    CAST(round(-ln(CAST(coalesce(c.c_bg, 0) + 1 AS DOUBLE)
        |         / (coalesce(u.c_uni, 0) + v.v)) * 1e4) AS BIGINT) AS nll_term_e4
        |  FROM score_bigrams b
        |  LEFT JOIN bg_counts c ON b.w1 = c.w1 AND b.w2 = c.w2
        |  LEFT JOIN uni_counts u ON b.w1 = u.w1
        |  CROSS JOIN v),
        |per_doc AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |         CAST(sum(oov_term) AS BIGINT) AS oov_bigrams,
        |         CAST(sum(nll_term_e4) AS BIGINT) AS nll_e4
        |  FROM scored GROUP BY doc_id)
        |SELECT s.doc_id, coalesce(p.n_bigrams, 0) AS n_bigrams,
        |       coalesce(p.oov_bigrams, 0) AS oov_bigrams,
        |       coalesce(p.nll_e4, 0) AS nll_e4
        |FROM score s LEFT JOIN per_doc p ON s.doc_id = p.doc_id
        |ORDER BY s.doc_id""".stripMargin),
    // Constructed-truth SemDeDup golden: expected rows are exact-cosine
    // JVM dedup decisions (SemDedupGolden.expected); the Spark side runs
    // the distributed quantize → within-cell prune → component path.
    Query("q137_semdedup_golden", Queries.semDedupGolden,
      graft.SemDedupGolden.oracleValuesSql),
    // q138: CCNet perplexity terciles — reuses q134's LM mirror, then the
    // q68 positional-quantile pattern for the two cutoffs. The cutoff
    // positions are the IDENTICAL ceil(p·n) double expression both
    // engines evaluate on the same operands (p literals are the exact
    // shortest-repr of the Scala doubles 1.0/3 and 2.0/3); everything
    // else is BIGINT (floor division // matches Spark's `div` on
    // nonnegative operands).
    Query("q138_ccnet_buckets", Queries.ccnetBuckets,
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents),
        |uni AS (
        |  SELECT unnest(ts) AS w1 FROM toks),
        |uni_counts AS (
        |  SELECT w1, CAST(count(*) AS BIGINT) AS c_uni FROM uni GROUP BY w1),
        |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni_counts),
        |bigrams AS (
        |  SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
        |  FROM toks, (SELECT unnest(range(1, (SELECT max(len(ts)) FROM toks) + 1)) AS i)
        |  WHERE i <= len(ts) - 1),
        |bg_counts AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_bg
        |  FROM bigrams GROUP BY w1, w2),
        |terms AS (
        |  SELECT b.doc_id,
        |    CAST(round(-ln(CAST(c.c_bg + 1 AS DOUBLE) / (u.c_uni + v.v)) * 1e4)
        |         AS BIGINT) AS nll_term_e4
        |  FROM bigrams b
        |  JOIN bg_counts c ON b.w1 = c.w1 AND b.w2 = c.w2
        |  JOIN uni_counts u ON b.w1 = u.w1
        |  CROSS JOIN v),
        |ppl AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |         CAST(sum(nll_term_e4) AS BIGINT) // CAST(count(*) AS BIGINT) AS ppl_e4
        |  FROM terms GROUP BY doc_id),
        |r AS (
        |  SELECT doc_id, n_bigrams, ppl_e4,
        |         row_number() OVER (ORDER BY ppl_e4, doc_id) AS rn,
        |         count(*) OVER () AS n
        |  FROM ppl),
        |cuts AS (
        |  SELECT
        |    max(CASE WHEN rn = CAST(ceil(0.3333333333333333 * n) AS BIGINT) THEN ppl_e4 END) AS c1,
        |    max(CASE WHEN rn = CAST(ceil(0.6666666666666666 * n) AS BIGINT) THEN ppl_e4 END) AS c2
        |  FROM r)
        |SELECT p.doc_id, p.n_bigrams, p.ppl_e4,
        |  CASE WHEN p.ppl_e4 <= c.c1 THEN 'head'
        |       WHEN p.ppl_e4 <= c.c2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM ppl p CROSS JOIN cuts c
        |ORDER BY p.doc_id""".stripMargin),
    Query("q139_dsir_resample", Queries.dsirResample, SfOracles.dsirResample),
    Query("q140_quality_classifier", Queries.qualityClassifier,
      SfOracles.qualityClassifier),
    Query("q141_bloom_decontamination", Queries.bloomDecontamination,
      SfOracles.bloomDecontamination),
    Query("q142_bpe_packing", Queries.bpePacking, SfOracles.bpePacking),
    Query("q143_linear_count", Queries.linearCountDistinct,
      SfOracles.linearCount),
    Query("q144_hashed_quality_classifier", Queries.hashedQualityClassifier,
      SfOracles.hashedQualityClassifier),
    // Token-budget selection oracle: the operator's sharded-cumsum plan
    // must equal ONE global-order SQL window (score desc, doc_id ties),
    // with the budget itself derived in-query (half the corpus tokens).
    Query("q145_token_budget_select", Queries.tokenBudgetSelect,
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(COALESCE(text, '')), '\s+')) AS BIGINT) AS n_toks,
        |    (CAST(len(list_distinct(string_split_regex(trim(COALESCE(text, '')), '\s+'))) AS BIGINT)
        |       * 1000000) // CAST(len(string_split_regex(trim(COALESCE(text, '')), '\s+')) AS BIGINT)
        |      AS score_e6
        |  FROM documents),
        |b AS (SELECT CAST(SUM(n_toks) // 2 AS BIGINT) AS budget FROM t),
        |c AS (SELECT doc_id, score_e6, n_toks,
        |        SUM(n_toks) OVER (ORDER BY score_e6 DESC, doc_id
        |          ROWS UNBOUNDED PRECEDING) AS cum_toks
        |      FROM t)
        |SELECT c.doc_id, c.score_e6, c.n_toks,
        |  CAST(c.cum_toks AS BIGINT) AS cum_toks,
        |  c.cum_toks <= b.budget AS selected
        |FROM c, b ORDER BY c.doc_id""".stripMargin),
    // Sliding-window chunking oracle: same window arithmetic via
    // generate_series + 1-based inclusive list slicing (DuckDB
    // list_slice end-inclusive vs Spark slice length-based). Empty/null
    // text tokenizes to ZERO tokens and emits ZERO chunks (the round-11
    // contract fix — previously one chunk holding one empty token).
    Query("q146_chunk_stride", Queries.chunkStride,
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(COALESCE(text, '')) = '' THEN []
        |         ELSE string_split_regex(trim(text), '\s+') END AS ts
        |  FROM documents),
        |n AS (SELECT doc_id, ts, CAST(len(ts) AS BIGINT) AS n FROM t),
        |c AS (
        |  SELECT doc_id, ts, n,
        |    CAST(unnest(generate_series(0, (greatest(n - 32, 0) + 23) // 24)) AS BIGINT)
        |      AS chunk_id
        |  FROM n WHERE n > 0),
        |s AS (
        |  SELECT doc_id, chunk_id, chunk_id * 24 + 1 AS start_tok,
        |    list_slice(ts, CAST(chunk_id * 24 + 1 AS BIGINT),
        |               least(CAST(chunk_id * 24 + 32 AS BIGINT), n)) AS chunk
        |  FROM c)
        |SELECT doc_id, chunk_id, CAST(start_tok AS BIGINT) AS start_tok,
        |  CAST(len(chunk) AS BIGINT) AS n_toks,
        |  md5(array_to_string(chunk, ' ')) AS chunk_md5
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin),
    Query("q147_bpe_chunk_ids", Queries.bpeChunkIds, SfOracles.bpeChunkIds),
    Query("q148_pipeline_v4", Queries.pipelineV4, SfOracles.pipelineV4),
    Query("q149_classifier_eval", Queries.classifierEval,
      SfOracles.classifierEval),
    // Per-group budget oracle: the composite-range sharded plan must
    // equal TWO plain SQL windows per language (running prefix + group
    // total); selection is the integer cross-multiply cum*den <= tot*num.
    Query("q150_token_budget_per_lang", Queries.tokenBudgetPerLang,
      """WITH t AS (
        |  SELECT COALESCE(lang, '') AS lang, doc_id,
        |    CAST(len(string_split_regex(trim(COALESCE(text, '')), '\s+')) AS BIGINT) AS n_toks,
        |    (CAST(len(list_distinct(string_split_regex(trim(COALESCE(text, '')), '\s+'))) AS BIGINT)
        |       * 1000000) // CAST(len(string_split_regex(trim(COALESCE(text, '')), '\s+')) AS BIGINT)
        |      AS score_e6
        |  FROM documents),
        |c AS (
        |  SELECT lang, doc_id, score_e6, n_toks,
        |    SUM(n_toks) OVER (PARTITION BY lang) AS lang_toks,
        |    SUM(n_toks) OVER (PARTITION BY lang ORDER BY score_e6 DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum_toks
        |  FROM t)
        |SELECT lang, doc_id, score_e6, n_toks,
        |  CAST(lang_toks AS BIGINT) AS lang_toks,
        |  CAST(cum_toks AS BIGINT) AS cum_toks,
        |  cum_toks * 2 <= lang_toks AS selected
        |FROM c ORDER BY doc_id""".stripMargin),
    // Training-order shuffle oracle: the sharded range-partition plan
    // must equal ONE global ROW_NUMBER window over the md5 digest order
    // (md5 because both engines hash UTF-8 bytes to the same lowercase
    // hex — the deterministic-split precedent).
    Query("q151_training_order_shuffle", Queries.trainingOrderShuffle,
      trainingOrderOracleSql),
    // BM25 oracle: identical double expression tree from exact integer
    // inputs (tf, df, dl, N, Σdl), rounded to e4 per contribution (the
    // q134 ln precedent) so the per-(query, doc) sum is BIGINT; the
    // k1+1 factor is written (1.2 + 1.0) so both engines constant-fold
    // the same IEEE add rather than parsing a different literal.
    Query("q152_bm25_topk", Queries.bm25TopK, bm25OracleSql),
    Query("q153_minhash_incremental", Queries.minhashIncrementalDedup,
      SfOracles.minhashIncremental),
    // q154: the SAME mirror rows as q153 — the persisted-index probe
    // must classify bit-identically to the stateless form on the same
    // odd/even split (the index only changes where history signatures
    // are stored, never what they are)
    Query("q154_minhash_index_incremental", Queries.minhashIndexIncrementalDedup,
      SfOracles.minhashIncremental),
    // q155 shares q152's oracle VERBATIM: the persisted-index shape must
    // rank identically to the batch shape at maxDf = ∞ (same postings,
    // df, bounds, scoring tree — only the storage layout differs).
    Query("q155_bm25_index_topk", Queries.bm25IndexTopK, bm25OracleSql),
    // q156 shares q151's oracle VERBATIM: the pos-range sink round trip
    // (write streamable layout → read back) must reproduce the
    // permutation exactly — losslessness IS the check.
    Query("q156_training_order_sink", Queries.trainingOrderSink,
      trainingOrderOracleSql),
    Query("q157_minhash_index_ingest", Queries.minhashIndexIngestLoop,
      SfOracles.minhashIngest),
    // q158: the SAME mirror rows as q42 — the persisted IVF index must
    // rank bit-identically to the in-session form (same deterministic
    // quantizer, same assignment, same scoring tree)
    Query("q158_knn_ivf_index", Queries.knnIvfIndex, SfOracles.ivf),
    // q159 shares it too: an index built on half the corpus then GROWN
    // with the other half must rank exactly like a full build — the
    // equality IS the check that append-maintenance loses nothing.
    Query("q159_bm25_index_append", Queries.bm25IndexAppendTopK, bm25OracleSql),
    Query("q160_knn_ivf_append", Queries.knnIvfIndexAppend,
      SfOracles.ivfAppend),
    // q161 likewise: compaction is pure layout maintenance (fresh
    // term-sorted generation, swap, delete-old), so the compacted
    // grown index must still rank exactly like the batch shape.
    Query("q161_bm25_index_compact", Queries.bm25IndexCompactTopK,
      bm25OracleSql),
    // q162: the SAME mirror rows as q157 — compaction between the two
    // ingest batches is pure layout maintenance, so batch 2's
    // cross-batch classification must survive the rewrite untouched
    Query("q162_minhash_index_compact", Queries.minhashIndexCompactLoop,
      SfOracles.minhashIngest),
    // q163: the SAME mirror rows as q160 — compacting the grown cell
    // directories is pure layout maintenance; ranking must not move
    Query("q163_knn_ivf_compact", Queries.knnIvfIndexCompact,
      SfOracles.ivfAppend),
    // q164: the SAME mirror rows as q42/q158 — rebuild-after-append
    // retrains on the whole corpus, so it must equal one fresh build
    Query("q164_knn_ivf_rebuild", Queries.knnIvfIndexRebuild, SfOracles.ivf),
    // q165: the SAME mirror rows as q157 — the streaming wrapper
    // (file-source micro-batches through foreachBatch) must add
    // delivery, never change classification
    Query("q165_minhash_ingest_stream", Queries.minhashIngestStreaming,
      SfOracles.minhashIngest),
    // q166 likewise: the exact-scan serving path must rank identically
    // to the WAND-pruned default (q155) and the batch shape (q152) —
    // one oracle pins all three
    Query("q166_bm25_index_exactscan", Queries.bm25IndexExactScanTopK,
      bm25OracleSql),
    // q167 likewise: streaming micro-batch appends must leave an index
    // that ranks exactly like one build over the whole corpus
    Query("q167_bm25_append_stream", Queries.bm25AppendStreaming, bm25OracleSql),
    // q168: the SAME mirror rows as q160 — streaming micro-batch
    // appends to the frozen quantizer must neither retrain nor lose a
    // vector
    Query("q168_knn_ivf_append_stream", Queries.knnIvfAppendStreaming,
      SfOracles.ivfAppend),
    Query("q169_hybrid_rrf", Queries.hybridRrfRetrieval, SfOracles.hybridRrf),
    // q170: tombstone DELETEs — the same CTE chain with the deleted
    // docs (doc_id % 7 = 3) excluded exactly where deleteFromIndex's
    // published semantics put them: AFTER posting/df/bounds derivation
    // (statistics stay historical — the Lucene trade, so surviving
    // docs' scores are unchanged) and BEFORE ranking (ranks recompute
    // over survivors). One oracle covers both delete mechanics the
    // query runs (compaction-folded batch + live anti-join batch).
    Query("q170_bm25_index_delete", Queries.bm25IndexDeleteTopK,
      bm25Top5(Bm25OracleSql.rankedCtesExcluding("p.doc_id % 7 = 3"))),
    Query("q171_minhash_index_delete", Queries.minhashIndexDeleteDedup,
      SfOracles.minhashDelete),
    Query("q172_knn_ivf_delete", Queries.knnIvfIndexDelete,
      SfOracles.ivfDelete),
    Query("q173_knn_ivf_filtered", Queries.knnIvfFiltered,
      SfOracles.ivfFiltered),
    // q174: the document-UPDATE recipe (delete → compact-fold →
    // re-append with v2 text) — the oracle replays the composed
    // semantics: postings (v1 ∖ U) ∪ U_v2, df = df(full v1) +
    // df(U_v2 batch), additive N/Σdl (see Bm25OracleSql.updateCtes).
    Query("q174_bm25_index_update", Queries.bm25IndexUpdateTopK,
      bm25Top5(Bm25OracleSql.updateCtes("doc_id % 9 = 4", " zzupdated zzversion"))),
    Query("q175_knn_ivf_recall", Queries.knnIvfRecall, SfOracles.ivfRecall),
    // q176 shares q170's oracle VERBATIM: the same %7==3 takedown set
    // arriving as two streamed micro-batches must leave rankings
    // identical to the batch deletes — streaming adds transport, never
    // semantics (and tombstone merges are idempotent under redelivery).
    Query("q176_bm25_delete_stream", Queries.bm25DeleteStreaming,
      bm25Top5(Bm25OracleSql.rankedCtesExcluding("p.doc_id % 7 = 3"))),
    // q177 likewise: the TIME-TRAVEL probe (AsOf.Commits(1) after
    // build → append → delete) must reconstruct the pre-delete index
    // exactly — which is the full corpus, i.e. the q152/q155 ranking.
    // Equality pins the whole snapshot-log resolution path: manifest
    // targeting, member generation reads, and the (empty) historical
    // tombstone list.
    Query("q177_bm25_time_travel", Queries.bm25TimeTravelTopK, bm25OracleSql),
    Query("q178_knn_ivf_sq8", Queries.knnIvfSq8, SfOracles.ivfSq8),
    // q179: time travel ACROSS the in-place append commit (AsOf.Commits(2) in
    // the same build→append→delete history) — the probe reads the build
    // commit's FILE MANIFEST, so it must rank exactly like a fresh
    // index over the even build half alone, statistics included (N,
    // Σdl, df describe the build corpus — rankedCtesCorpus, unlike the
    // delete oracle's statistics-preserving exclusion).
    Query("q179_bm25_tt_across_append", Queries.bm25TimeTravelAcrossAppend,
      bm25Top5(Bm25OracleSql.rankedCtesCorpus("doc_id % 2 = 0"))),
    Query("q180_hybrid_rrf_filtered", Queries.hybridRrfFilteredRetrieval,
      SfOracles.hybridRrfFiltered),
    Query("q181_knn_ivf_tt_append", Queries.knnIvfTimeTravelAcrossAppend,
      SfOracles.ivfTimeTravel),
    Query("q182_minhash_tt_ingest", Queries.minhashTimeTravelAcrossIngest,
      SfOracles.minhashTimeTravel),
    Query("q183_knn_ivf_sq8_tt", Queries.knnIvfSq8TimeTravel,
      SfOracles.ivfSq8TimeTravel),
    Query("q184_hybrid_rrf_tt", Queries.hybridRrfTimeTravel,
      SfOracles.hybridRrfTimeTravel),
    Query("q185_hybrid_rrf_tt_sq8", Queries.hybridRrfTimeTravelSq8,
      SfOracles.hybridRrfTimeTravelSq8),
    // q186/q187 likewise: the same pre-delete state addressed by WALL
    // CLOCK (AsOf.At over the manifest's ts column) and by NAME
    // (AsOf.Tag) instead of commit depth — and their layout ran its
    // append with auto-compaction ON, so the equality also pins that a
    // cadence-inserted compact commit shifts neither selector (the r17
    // reason these selectors exist). Pre-delete state = full corpus =
    // the q152/q155 ranking.
    Query("q186_bm25_tt_timestamp", Queries.bm25TimestampTravelTopK,
      bm25OracleSql),
    Query("q187_bm25_tt_tag", Queries.bm25TagTravelTopK, bm25OracleSql),
    // q188–q190: INCREMENTAL (CDC-style) reads off the snapshot log's
    // add-file deltas — "only the rows appended between state A and
    // state B". The oracles are the appended batches' ids verbatim:
    // equality pins that the base corpus and pre-checkpoint batches are
    // excluded, that an in-window compaction commit contributes nothing
    // (its base rows REWRITE previously-visible rows — q188 runs its
    // second ingest with auto-compaction ON so one lands in-window),
    // and (q190) that the ignoreDeletes + live-tombstone-anti-join
    // recipe drops exactly the since-deleted ids.
    Query("q188_minhash_incr_feed", Queries.minhashIncrementalFeed,
            "SELECT doc_id FROM documents WHERE doc_id % 3 = 2 ORDER BY doc_id"),
    Query("q189_knn_ivf_incr_feed", Queries.knnIvfIncrementalFeed,
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dims
        |FROM embeddings WHERE vec_id % 2 = 1 ORDER BY vec_id""".stripMargin),
    Query("q190_bm25_incr_feed", Queries.bm25IncrementalFeed,
      """SELECT doc_id FROM documents
        |WHERE doc_id % 2 = 1 AND doc_id % 7 <> 3
        |ORDER BY doc_id""".stripMargin),
    // q191: the tag-checkpointed consume loop — cycle 1 delivers the
    // first ingested batch and nothing else, cycle 2 the second: no
    // overlap, no loss, base corpus never delivered (exactly-once
    // windowing under an advancing tag checkpoint)
    Query("q191_minhash_consume_loop", Queries.minhashConsumeLoop,
      """SELECT doc_id, CAST(1 AS INT) AS cycle FROM documents
        |  WHERE doc_id % 3 = 1
        |UNION ALL
        |SELECT doc_id, CAST(2 AS INT) AS cycle FROM documents
        |  WHERE doc_id % 3 = 2
        |ORDER BY doc_id""".stripMargin),
    // q192: the STACK-TAG hybrid — q184's "serve yesterday's stack"
    // with both legs addressed by ONE tagStack name instead of
    // per-index commit depths; the resolved states are identical by
    // construction, so the oracle is q184's verbatim
    Query("q192_hybrid_rrf_stack_tag", Queries.hybridRrfStackTag,
      SfOracles.hybridRrfTimeTravel)
  )

  /** The driver's view: query name -> frame-building function. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** The driver's view: query name -> oracle SQL, for the queries that
    * have one. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
