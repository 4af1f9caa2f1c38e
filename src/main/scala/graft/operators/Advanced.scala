package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Exact._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import graft.operators.IndexStore.PublishSyntax
import graft.operators.Fanout.SpreadSyntax
import org.apache.spark.sql.functions._

/** Second-ring operators: windowed analytics, multi-level aggregates,
  * composite training-data curation, and the tabjolt parity queries
  * routed through the hash gate.
  */
object Advanced {

  /** Gap-based sessionization in batch: lag + cumulative-sum window — the
    * relational twin of streaming.EventsStream.sessionize (cross-checked
    * in the spec). Scale: two window passes over the same (user_id, ts)
    * partitioning — one shuffle, reused by both. */
  val e01 = QueryDef(
    "e01_sessionization",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("ms", unix_millis(col("ts")))
        .withColumn("new_s",
          when(lag(col("ms"), 1).over(w).isNull ||
            col("ms") - lag(col("ms"), 1).over(w) > 1800000L, 1).otherwise(0))
        .withColumn("sid", sum(col("new_s")).over(run))
        .groupBy(col("user_id"), col("sid"))
        .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"),
          count(lit(1)).as("n_events"), exactSum(col("value")).as("sum_value"))
        .orderBy(col("user_id"), col("sid"))
    },
    Some("""WITH flag AS (
           |  SELECT user_id, event_id, ts, value,
           |         CASE WHEN LAG(epoch_ms(ts)) OVER w IS NULL
           |                OR epoch_ms(ts) - LAG(epoch_ms(ts)) OVER w > 1800000 THEN 1 ELSE 0 END AS new_s
           |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
           |), sess AS (
           |  -- CAST: DuckDB SUM(INTEGER) yields HUGEINT; Spark emits BIGINT.
           |  SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
           |  FROM flag)
           |SELECT user_id, sid, MIN(ts) AS start_ts, MAX(ts) AS end_ts,
           |       COUNT(*) AS n_events,
           |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
           |FROM sess GROUP BY user_id, sid ORDER BY user_id, sid""".stripMargin))

  /** Multi-level aggregate: ROLLUP over the star join. Subtotal rows have
    * NULL group keys in both engines; ordering pinned NULLS FIRST
    * explicitly (Spark's ASC default differs from DuckDB's). */
  val q16 = QueryDef(
    "q16_rollup",
    (s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .rollup(col("n_name"))
        .agg(count(lit(1)).as("n_orders"), exactSum(col("o_totalprice")).as("revenue"),
          grouping_id().as("gid"))
        // gid distinguishes a NULL data key from a subtotal row — without
        // it the order of those two rows is unpinned across engines
        .orderBy(col("gid"), col("n_name").asc_nulls_first)
    },
    Some("""SELECT n_name, COUNT(*) AS n_orders,
           |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           |       GROUPING(n_name) AS gid
           |FROM orders JOIN customer ON o_custkey = c_custkey
           |JOIN nation ON c_nationkey = n_nationkey
           |GROUP BY ROLLUP(n_name) ORDER BY gid, n_name NULLS FIRST""".stripMargin))

  /** Exact interpolated percentiles (p50/p95/p99). Both engines sort the
    * full group and interpolate linearly — identical doubles on identical
    * input. Scale note: exact percentile is a full sort per group; at
    * 100 TB use approx_percentile (t-digest) and accept the error bound —
    * kept exact here because the oracle must hash-match. */
  val q17 = QueryDef(
    "q17_percentiles",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_extendedprice, 0.5)").as("p50"),
          expr("percentile(l_extendedprice, 0.95)").as("p95"),
          expr("percentile(l_extendedprice, 0.99)").as("p99"))
        .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
           |       quantile_cont(l_extendedprice, 0.5) AS p50,
           |       quantile_cont(l_extendedprice, 0.95) AS p95,
           |       quantile_cont(l_extendedprice, 0.99) AS p99
           |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** Embedding-cosine near-dup dedup: every vector that has a
    * higher-similarity earlier twin maps to its lowest-id keeper.
    * Completes the dedup family (exact / MinHash / SimHash / n-gram
    * Jaccard / embedding). Pairs come from the LSH bucket join
    * ([[Similarity.lshPairs]] — hash join on (tbl, bucket), O(N*T)
    * shuffle), exact-verified by the native dot product; the all-pairs
    * s01 stays as the oracle so the gate proves LSH recall is
    * exhaustive at this threshold. */
  /** Corpus-fingerprinted persisted embedding-dedup keep-map
    * (vec_id -> keep_id) — the [[graft.operators.TextDedup.PairIndex]]
    * argument applied to the embedding side: the LSH-candidate +
    * exact-verify pipeline is THE expensive artifact per corpus
    * version, and every downstream consumer (filter stages, canonical
    * selection, re-ingest audits) reads the map instead of re-pairing
    * the corpus. Deterministic: candidates are exactly verified, so the
    * persisted rows equal the brute-force derivation regardless of
    * build timing. Publication/staleness: [[graft.operators.IndexStore]]
    * keyed on the embeddings table fingerprint. */
  private[operators] object EmbDedupIndex {
    private[operators] def indexDirFor(d: String): String =
      s"${sys.props("java.io.tmpdir")}/graft_embdedup_" +
        IndexStore.corpusFingerprint(d, "embeddings")

    def ensure(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
      val dir = IndexStore.ensure(indexDirFor(d), "keep/_SUCCESS") { tmp =>
        // Raw (undeduped) LSH pairs: min(id1) absorbs the multi-table
        // duplicates in the map-side partial aggregate, so the
        // distinct's whole-candidate-stream exchange is dropped from
        // the build plan — the heaviest shuffle in this pipeline
        // (measured 1.45s -> ~0.9s at sf0.1). The pair-list form
        // (Similarity.lshPairs) keeps the distinct for contract-bearing
        // consumers.
        Similarity.lshPairsDedupRaw(s, d)
          .groupBy(col("id2").as("vec_id"))
          .agg(min(col("id1")).as("keep_id"))
          .publishTo(s"$tmp/keep")
      }
      s.read.parquet(s"$dir/keep")
    }
  }

  val t09 = QueryDef(
    "t09_dedup_embedding",
    (s, d) => EmbDedupIndex.ensure(s, d).orderBy(col("vec_id")),
    Similarity.s01.oracle.map(sql =>
      s"""WITH pairs AS ($sql)
         |SELECT id2 AS vec_id, MIN(id1) AS keep_id
         |FROM pairs GROUP BY id2 ORDER BY vec_id""".stripMargin))

  /** Composite curation pipeline — the end-to-end shape of a
    * training-data filter stage: quality-score gate + predicted-language
    * gate + exact dedup, emitting the surviving doc ids. One scan, no
    * joins; dedup is the only shuffle. */
  val c01 = QueryDef(
    "c01_curation",
    (s, d) => {
      import graft.functions.TextFunctions._
      val st = textStats(col("text"))
      val base = Tables.documents(s, d)
        .spreadByBytes // spread per-row work
        .select(col("doc_id"),
          st.getField("quality").as("quality"),
          st.getField("pred_lang").as("pred_lang"),
          fingerprint(col("text")).as("fp"))
        .filter(col("quality") >= 0.7 && col("pred_lang") === "en")
      base
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("doc_id"), min(col("quality")).as("quality"))
        .select(col("doc_id"), col("quality"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH tok AS (
           |  SELECT doc_id, text,
           |         list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
           |  FROM documents
           |), scored AS (
           |  SELECT doc_id, text,
           |         CASE WHEN len(toks) = 0 THEN 0.0 ELSE
           |         0.3 * least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
           |       + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
           |       + 0.2 * (1.0 - CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','is'))) AS DOUBLE) / len(toks))
           |       + 0.2 * least(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) / 5.0, 1.0)
           |         END AS quality,
           |         CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
           |              WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'unknown'
           |              WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
           |              WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
           |              WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
           |              ELSE 'es' END AS pred_lang,
           |         md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
           |  FROM (
           |    SELECT doc_id, text, toks,
           |           len(list_filter(toks, t -> t IN ('the','a','of','and','is'))) AS s_en,
           |           len(list_filter(toks, t -> t IN ('der','die','das','und','ist'))) AS s_de,
           |           len(list_filter(toks, t -> t IN ('le','la','les','et','est'))) AS s_fr,
           |           len(list_filter(toks, t -> t IN ('el','los','las','y','es'))) AS s_es
           |    FROM tok)
           |)
           |SELECT MIN(doc_id) AS doc_id, MIN(quality) AS quality
           |FROM scored WHERE quality >= 0.7 AND pred_lang = 'en'
           |GROUP BY fp ORDER BY doc_id""".stripMargin))

  /** The reference's centerpiece Q8a (tabjolt.Queries.regressions — the
    * REAL parity code, not a re-implementation) routed through the hash
    * gate over a performance_samples-shaped frame derived from events.
    * Proves the tabjolt pipeline against the DuckDB oracle, not just
    * against fixtures. */
  val tj01 = QueryDef(
    "tj01_reference_regressions",
    (s, d) => graft.tabjolt.Queries.regressions(
      eventsAsSamples(s, d), java.time.LocalDate.of(2024, 1, 30))
      // parity code orders by pct only (reference fidelity); the gate
      // needs a total order — add deterministic tiebreaks on top
      .orderBy(col("percentage_difference").desc_nulls_first,
        col("response_message"), col("current_elapsed_ms")),
    Some("""WITH samples AS (
           |  SELECT CAST(CAST(FLOOR(value * 100) AS INTEGER) AS VARCHAR) AS elapsed_time_ms,
           |         CAST(epoch_ms(ts) AS VARCHAR) AS timestamp_ms,
           |         'Site: g; View: ' || event_type AS response_message
           |  FROM events
           |), aa AS (
           |  SELECT response_message AS response,
           |         AVG(CAST(elapsed_time_ms AS INTEGER)) AS avg_elapsed_ms
           |  FROM samples
           |  WHERE regexp_matches(elapsed_time_ms, '^[0-9]+$')
           |    AND response_message ILIKE '%site%' AND response_message NOT ILIKE '%null%'
           |  GROUP BY response_message
           |), bb AS (
           |  SELECT CAST(elapsed_time_ms AS INTEGER) AS current_elapsed_ms, response_message
           |  FROM samples
           |  WHERE regexp_matches(timestamp_ms, '^[0-9]+$')
           |    AND regexp_matches(elapsed_time_ms, '^[0-9]+$')
           |    AND to_timestamp(CAST(timestamp_ms AS BIGINT) / 1000) >= TIMESTAMP '2024-01-30 00:00:00'
           |    AND response_message ILIKE '%site%' AND response_message NOT ILIKE '%null%'
           |)
           |SELECT avg_elapsed_ms, current_elapsed_ms, response_message,
           |       CASE WHEN avg_elapsed_ms = 0 THEN NULL
           |            ELSE ((current_elapsed_ms - avg_elapsed_ms) / avg_elapsed_ms) * 100.0 END AS percentage_difference
           |FROM aa LEFT OUTER JOIN bb ON aa.response = bb.response_message
           |WHERE avg_elapsed_ms < current_elapsed_ms
           |ORDER BY percentage_difference DESC NULLS FIRST, response_message, current_elapsed_ms""".stripMargin))

  /** Vocabulary building: global token frequencies, top-k with a
    * deterministic tiebreak. Scale: explode -> two-phase count — the
    * shuffle carries one row per distinct token per partition (map-side
    * combine), and the top-k is a TakeOrdered, not a full sort.
    * No pre-explode repartition: tokenize+explode is light per-row work
    * (unlike the shingle pipelines, where the exchange pays for itself),
    * so the exchange costs more than it buys at bench SF (0.45s -> 0.27s
    * without it), and at real scale the scan's file splits parallelize
    * the map side anyway. explode(tokens(text)) is a single Generate —
    * the generator input is evaluated once per input row, so there is no
    * CollapseProject re-evaluation hazard here. */
  val v01 = QueryDef(
    "v01_vocab_topk",
    (s, d) => {
      import graft.functions.TextFunctions._
      Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(20)
    },
    Some("""SELECT token, COUNT(*) AS cnt FROM (
           |  SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')) AS token
           |  FROM documents)
           |GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin))

  /** As-of join — for every error event, the most recent click of the
    * same user at or before it. Composed from window functions
    * (preference (a) of the custom-operator ladder: no custom SparkPlan
    * needed): one sort-shuffle on (user_id, ts) and a running
    * last-non-null, versus DuckDB's native ASOF LEFT JOIN as the oracle.
    * At equal timestamps clicks order before errors (ASOF's >= bound);
    * scale: a single window pass, no N x M join blowup for hot users. */
  val j01 = QueryDef(
    "j01_asof_join",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"),
          when(col("event_type") === "click", 0).otherwise(1),
          col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ev = Tables.events(s, d)
      // collapse same-(user, ts) clicks to the max event_id: DuckDB ASOF
      // picks an arbitrary row among duplicate right-side timestamps
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("event_id"))
        .withColumn("event_type", lit("click"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      clicks.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .unionByName(errors)
        .withColumn("click_ts",
          last(when(col("event_type") === "click", col("ts")), ignoreNulls = true).over(w))
        .withColumn("click_id",
          last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id"),
          col("ts").as("error_ts"), col("click_id"), col("click_ts"))
        .orderBy(col("error_id"))
    },
    Some("""SELECT e.event_id AS error_id, e.user_id, e.ts AS error_ts,
           |       c.event_id AS click_id, c.ts AS click_ts
           |FROM (SELECT * FROM events WHERE event_type = 'error') e
           |ASOF LEFT JOIN (SELECT user_id, ts, MAX(event_id) AS event_id
           |                FROM events WHERE event_type = 'click'
           |                GROUP BY user_id, ts) c
           |  ON e.user_id = c.user_id AND e.ts >= c.ts
           |ORDER BY error_id""".stripMargin))

  /** Semi-structured extraction: parse the JSON-ish props column with a
    * declared schema (from_json) and aggregate on the extracted field —
    * the schema-on-read pattern for event payloads. Codegen'd JSON parse,
    * no UDF. */
  val q18 = QueryDef(
    "q18_json_extract",
    (s, d) =>
      Tables.events(s, d)
        // guard malformed/overflow payloads: Spark from_json nulls them
        // silently but DuckDB json_extract ERRORS — screen both sides
        // with the same regexp (bounded digits keep k inside INT range)
        .filter(col("props").rlike("^\\{\"k\": [0-9]{1,9}\\}$"))
        .select(col("event_type"),
          from_json(col("props"), lit("k INT")).getField("k").as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type")),
    Some("""SELECT event_type,
           |       -- CAST: DuckDB SUM(INTEGER) yields HUGEINT; Spark emits BIGINT.
           |       COUNT(k) AS n_with_k, CAST(SUM(k) AS BIGINT) AS sum_k,
           |       MIN(k) AS min_k, MAX(k) AS max_k
           |FROM (SELECT event_type,
           |             CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
           |      FROM events
           |      WHERE regexp_matches(props, '^\{"k": [0-9]{1,9}\}$'))
           |GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** Q8b parity twin of tj01: the real tabjolt.Queries.improvements code
    * (3-day window, avg > current, pct < -40, DESC NULLS FIRST) through
    * the hash gate. */
  val tj02 = QueryDef(
    "tj02_reference_improvements",
    (s, d) => graft.tabjolt.Queries.improvements(
      eventsAsSamples(s, d), java.time.LocalDate.of(2024, 1, 30))
      .orderBy(col("percentage_difference").desc_nulls_first,
        col("response_message"), col("current_elapsed_ms")),
    Some("""WITH samples AS (
           |  SELECT CAST(CAST(FLOOR(value * 100) AS INTEGER) AS VARCHAR) AS elapsed_time_ms,
           |         CAST(epoch_ms(ts) AS VARCHAR) AS timestamp_ms,
           |         'Site: g; View: ' || event_type AS response_message
           |  FROM events
           |), aa AS (
           |  SELECT response_message AS response,
           |         AVG(CAST(elapsed_time_ms AS INTEGER)) AS avg_elapsed_ms
           |  FROM samples
           |  WHERE regexp_matches(elapsed_time_ms, '^[0-9]+$')
           |    AND response_message ILIKE '%site%' AND response_message NOT ILIKE '%null%'
           |  GROUP BY response_message
           |), bb AS (
           |  SELECT CAST(elapsed_time_ms AS INTEGER) AS current_elapsed_ms, response_message
           |  FROM samples
           |  WHERE regexp_matches(timestamp_ms, '^[0-9]+$')
           |    AND regexp_matches(elapsed_time_ms, '^[0-9]+$')
           |    AND to_timestamp(CAST(timestamp_ms AS BIGINT) / 1000) >= TIMESTAMP '2024-01-27 00:00:00'
           |    AND response_message ILIKE '%site%' AND response_message NOT ILIKE '%null%'
           |)
           |SELECT avg_elapsed_ms, current_elapsed_ms, response_message, percentage_difference FROM (
           |  SELECT avg_elapsed_ms, current_elapsed_ms, response_message,
           |         CASE WHEN avg_elapsed_ms = 0 THEN NULL
           |              ELSE ((current_elapsed_ms - avg_elapsed_ms) / avg_elapsed_ms) * 100.0 END AS percentage_difference
           |  FROM aa LEFT OUTER JOIN bb ON aa.response = bb.response_message
           |  WHERE avg_elapsed_ms > current_elapsed_ms)
           |WHERE percentage_difference < -40.0
           |ORDER BY percentage_difference DESC NULLS FIRST, response_message, current_elapsed_ms""".stripMargin))

  /** The reference's centerpiece Q8a submitted as LITERAL ANSI SQL
    * through `spark.sql` over a registered view — proving the SQL API
    * surface, not just the DataFrame one: a reference user can paste
    * their Vertica query with dialect-level edits only (RLIKE for
    * REGEXP_LIKE, timestamp_seconds for TO_TIMESTAMP, a pinned run
    * date for CURRENT_DATE) and get the hash-identical result
    * (tabjolt_email.py:385). Catalyst plans it identically to the
    * DataFrame form (same Aggregate -> BroadcastHashJoin -> Sort). */
  val tj03 = QueryDef(
    "tj03_sql_surface",
    (s, d) => {
      eventsAsSamples(s, d).createOrReplaceTempView("tj_performance_samples")
      s.sql("""
        SELECT avg_elapsed_ms, current_elapsed_ms, response_message,
               CASE WHEN avg_elapsed_ms = 0 THEN NULL
                    ELSE ((current_elapsed_ms - avg_elapsed_ms) / avg_elapsed_ms) * 100.0
               END AS percentage_difference
        FROM (
          SELECT AVG(CAST(elapsed_time_ms AS INT)) AS avg_elapsed_ms,
                 response_message AS response
          FROM tj_performance_samples
          WHERE elapsed_time_ms RLIKE '^[0-9]+$'
            AND response_message ILIKE '%site%'
            AND response_message NOT ILIKE '%null%'
          GROUP BY response_message
        ) aa LEFT OUTER JOIN (
          SELECT CAST(elapsed_time_ms AS INT) AS current_elapsed_ms, response_message
          FROM tj_performance_samples
          WHERE timestamp_ms RLIKE '^[0-9]+$'
            AND elapsed_time_ms RLIKE '^[0-9]+$'
            AND timestamp_seconds(CAST(timestamp_ms AS BIGINT) / 1000) >= DATE'2024-01-30'
            AND response_message ILIKE '%site%'
            AND response_message NOT ILIKE '%null%'
        ) bb ON aa.response = bb.response_message
        WHERE avg_elapsed_ms < current_elapsed_ms
        ORDER BY percentage_difference DESC NULLS FIRST, response_message, current_elapsed_ms
        """)
    },
    tj01.oracle)

  /** TF-IDF-style term weighting with a log-free rational idf
    * (tf * N/df): pure integer-derived double arithmetic, so Spark and
    * DuckDB agree bit-for-bit (libm ln can differ in the last ulp across
    * engines — deliberately avoided). Top-3 terms per doc. */
  val t10 = QueryDef(
    "t10_tfidf_topterms",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      graft.functions.TextExpressions.register(s)
      // TF is a pure per-document function, so the graft_term_counts
      // kernel computes it in the row — the explode emits one row per
      // DISTINCT (doc, term) directly and the (doc_id, term) aggregate
      // exchange disappears. DF is then a whole-partition window over
      // one hash exchange on term (the t20 pattern): rows are already
      // distinct per (doc, term), so count(*) over the term partition
      // IS the document frequency. Two window exchanges end to end, no
      // materialization, no broadcast-back, and NO protective
      // repartition: the kernel is optimizer-opaque (no CollapseProject
      // hazard) and cheap (~us/doc), so the explode rides the scan
      // stage — scan parallelism at scale comes from file splits, and
      // the first exchange is the term window. Replaces the r5
      // materialize-tf (localCheckpoint) + broadcast-df plan that ran
      // 8.3x DuckDB on identical SQL (1.26s vs 0.15s at sf0.1).
      // Measured (sf0.1 min-of-2): r5 plan 1.02-1.10s; window
      // plan with repartition 0.73-0.77s; this form 0.46s.
      val tf = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(call_function("graft_term_counts", col("text"))).as("tc"))
        .select(col("doc_id"), col("tc.term").as("term"), col("tc.tf").as("tf"))
      // corpus size N stays IN the plan (1-row aggregate, broadcast
      // cross join — the oracle's CROSS JOIN n) instead of an eager
      // driver-side .count() that serialized a scan before the job
      val n = Tables.documents(s, d)
        .agg(count(lit(1)).cast("double").as("n"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("term"))
      tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
        .crossJoin(broadcast(n))
        .withColumn("tfidf", col("tf") * (col("n") / col("df")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("term"), col("tfidf"), col("rank"))
        .orderBy(col("doc_id"), col("rank"))
    },
    Some("""WITH terms AS (
           |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')) AS term
           |  FROM documents
           |), tf AS (
           |  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
           |), df AS (
           |  SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY term
           |), n AS (SELECT COUNT(*) AS n FROM documents)
           |SELECT doc_id, term, tfidf, rank FROM (
           |  SELECT tf.doc_id, tf.term,
           |         tf.tf * (CAST(n.n AS DOUBLE) / df.df) AS tfidf,
           |         ROW_NUMBER() OVER (PARTITION BY tf.doc_id
           |           ORDER BY tf.tf * (CAST(n.n AS DOUBLE) / df.df) DESC, tf.term) AS rank
           |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
           |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin))

  /** Shared events -> performance_samples-shaped derivation for tj01/tj02. */
  private[operators] def eventsAsSamples(s: SparkSession, d: String) =
    Tables.events(s, d).select(
      floor(col("value") * 100).cast("int").cast("string").as("elapsed_time_ms"),
      lit("0").as("latency_time_ms"),
      unix_millis(col("ts")).cast("string").as("timestamp_ms"),
      lit("true").as("success_indicator"),
      col("event_type").as("request_label"),
      lit("200").as("response_code"),
      concat(lit("Site: g; View: "), col("event_type")).as("response_message"),
      lit("T 1-1").as("thread_name"), lit("").as("data_type"),
      lit("0").as("bytes_count"), lit("1").as("grp_threads"),
      lit("1").as("all_threads"), lit("x").as("view_identity"))

  /** Pivot: daily counts per event type as columns. Pivot values are
    * pinned explicitly so the output schema is static (a dynamic pivot
    * would need a pre-pass collect at scale); oracle mirrors with
    * conditional aggregation. */
  val q19 = QueryDef(
    "q19_pivot",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(col("ts").cast("date").as("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("day")),
    Some("""SELECT CAST(ts AS DATE) AS day,
           |       COUNT(*) FILTER (event_type = 'click') AS click,
           |       COUNT(*) FILTER (event_type = 'error') AS error,
           |       COUNT(*) FILTER (event_type = 'purchase') AS purchase,
           |       COUNT(*) FILTER (event_type = 'signup') AS signup,
           |       COUNT(*) FILTER (event_type = 'view') AS view
           |FROM events GROUP BY 1 ORDER BY day""".stripMargin))

  /** Time-series densification: per-minute error counts over one day with
    * missing minutes zero-filled — generator + left join, the standard
    * dashboard-feed gap-fill. Scale: the generated spine is tiny relative
    * to the fact side and broadcast; counts aggregate before the join. */
  val q20 = QueryDef(
    "q20_gap_fill",
    (s, d) => {
      val dayStart = "2024-01-15 00:00:00"
      val spine = s.range(1).select(explode(sequence(
        lit(java.sql.Timestamp.valueOf(dayStart)),
        lit(java.sql.Timestamp.valueOf("2024-01-15 23:59:00")),
        expr("INTERVAL 1 MINUTE"))).as("minute"))
      val counts = Tables.events(s, d)
        .filter(col("event_type") === "error" &&
          col("ts") >= lit(java.sql.Timestamp.valueOf(dayStart)) &&
          col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-16 00:00:00")))
        .groupBy(date_trunc("minute", col("ts")).as("minute"))
        .agg(count(lit(1)).as("n"))
      spine.join(counts, Seq("minute"), "left_outer")
        .select(col("minute"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy(col("minute"))
    },
    Some("""SELECT minute, COALESCE(n, 0) AS n FROM (
           |  SELECT unnest(generate_series(TIMESTAMP '2024-01-15 00:00:00',
           |                                TIMESTAMP '2024-01-15 23:59:00',
           |                                INTERVAL 1 MINUTE)) AS minute) spine
           |LEFT OUTER JOIN (
           |  SELECT date_trunc('minute', ts) AS minute, COUNT(*) AS n
           |  FROM events
           |  WHERE event_type = 'error'
           |    AND ts >= TIMESTAMP '2024-01-15 00:00:00'
           |    AND ts < TIMESTAMP '2024-01-16 00:00:00'
           |  GROUP BY 1) c USING (minute)
           |ORDER BY minute""".stripMargin))

  /** CUBE: all grouping combinations of (event_type, day-of-month).
    * Subtotal rows carry NULL keys in both engines; ordering pinned
    * NULLS FIRST explicitly. */
  val q21 = QueryDef(
    "q21_cube",
    (s, d) =>
      Tables.events(s, d)
        .cube(col("event_type"), dayofmonth(col("ts")).as("dom"))
        .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_value"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), col("event_type").asc_nulls_first, col("dom").asc_nulls_first),
    Some("""SELECT event_type, day(ts) AS dom, COUNT(*) AS n,
           |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           |       GROUPING(event_type, day(ts)) AS gid
           |FROM events
           |GROUP BY CUBE (event_type, day(ts))
           |ORDER BY gid, event_type NULLS FIRST, dom NULLS FIRST""".stripMargin))

  /** Ordered funnel analysis (view -> click -> purchase): the product-
    * analytics staple over the events stream. A user advances to a stage
    * only if its event happens STRICTLY AFTER the previous stage's first
    * completion — three conditional min-aggregates chained by time, not
    * mere per-type existence. Output: users per furthest stage reached.
    *
    * Scale: each stage is one partial+final aggregate on user_id plus a
    * join against the previous stage's one-row-per-user frame — all
    * shuffles carry O(users) rows and share the user_id partitioning;
    * at any corpus size the stage frames are the small side and
    * broadcast- or co-partition-join cleanly. No window over the full
    * event log and no per-user event sorting. */
  val e02 = QueryDef(
    "e02_funnel",
    (s, d) => {
      // ONE pass: per-user conditional aggregates, then the sequential
      // funnel constraints (first click AFTER first view, first purchase
      // AFTER that click) resolved with array HOFs on the bounded
      // per-user event lists — no joins, one exchange on user_id, vs the
      // v->c->p chain's four scans and three join-aggregates (measured
      // 0.59s -> ~0.47s at sf0.1 — the residue is the single events
      // scan itself). Null flow is the funnel logic itself:
      // a missing view makes `t > view_ts` null, the filter drops every
      // click, array_min of the empty list is null, and the stage CASE
      // sees the user never reached the step. At 100 TB the per-user
      // list is the user's click/purchase history — bounded, and the
      // single exchange replaces three shuffled join-aggregates.
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"))
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "view", col("ts"))).as("view_ts"),
          collect_list(when(col("event_type") === "click", col("ts"))).as("clicks"),
          collect_list(when(col("event_type") === "purchase", col("ts"))).as("purchases"))
        .withColumn("click_ts",
          array_min(filter(col("clicks"), t => t > col("view_ts"))))
        .withColumn("purchase_ts",
          array_min(filter(col("purchases"), t => t > col("click_ts"))))
        .withColumn("stage",
          when(col("purchase_ts").isNotNull, 3)
            .when(col("click_ts").isNotNull, 2)
            .when(col("view_ts").isNotNull, 1)
            .otherwise(0))
        .groupBy(col("stage")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("stage"))
    },
    Some("""WITH v AS (
           |  SELECT user_id, MIN(ts) AS view_ts FROM events
           |  WHERE event_type = 'view' GROUP BY user_id),
           |c AS (
           |  SELECT e.user_id, MIN(e.ts) AS click_ts
           |  FROM events e JOIN v ON e.user_id = v.user_id
           |  WHERE e.event_type = 'click' AND e.ts > v.view_ts
           |  GROUP BY e.user_id),
           |p AS (
           |  SELECT e.user_id, MIN(e.ts) AS purchase_ts
           |  FROM events e JOIN c ON e.user_id = c.user_id
           |  WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
           |  GROUP BY e.user_id),
           |u AS (SELECT DISTINCT user_id FROM events)
           |SELECT CASE WHEN p.purchase_ts IS NOT NULL THEN 3
           |            WHEN c.click_ts IS NOT NULL THEN 2
           |            WHEN v.view_ts IS NOT NULL THEN 1
           |            ELSE 0 END AS stage,
           |       COUNT(*) AS n_users
           |FROM u LEFT JOIN v ON u.user_id = v.user_id
           |       LEFT JOIN c ON u.user_id = c.user_id
           |       LEFT JOIN p ON u.user_id = p.user_id
           |GROUP BY 1 ORDER BY stage""".stripMargin))

  /** Weekly cohort retention — the product-analytics matrix over the
    * event log: users grouped by the week of their FIRST event, then for
    * every (cohort, week offset) the count of distinct cohort members
    * still active that week. Week buckets are Monday-start
    * `date_trunc('week')` in both engines; the offset is an exact
    * integer (both endpoints are week boundaries, so the day delta is a
    * multiple of 7 and integer division is lossless).
    *
    * Scale: activity collapses to one (user, week) row per active week
    * BEFORE any join (the distinct is the first aggregate — O(users x
    * weeks), not O(events)); the cohort frame is one row per user; both
    * shuffles key on user_id and share partitioning. The final cube is
    * |cohorts| x |offsets| — tiny at any corpus size. */
  val e03 = QueryDef(
    "e03_cohort_retention",
    (s, d) => {
      val act = Tables.events(s, d)
        .select(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("wk"))
        .distinct()
      val cohorts = act.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
      act.join(cohorts, "user_id")
        .withColumn("week_offset", expr("datediff(wk, cohort) div 7"))
        .groupBy(col("cohort"), col("week_offset"))
        .agg(count_distinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort"), col("week_offset"))
    },
    Some("""WITH act AS (
           |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
           |  FROM events),
           |coh AS (SELECT user_id, MIN(wk) AS cohort FROM act GROUP BY user_id)
           |SELECT coh.cohort, datediff('day', coh.cohort, act.wk) // 7 AS week_offset,
           |       COUNT(DISTINCT act.user_id) AS n_users
           |FROM act JOIN coh ON act.user_id = coh.user_id
           |GROUP BY 1, 2 ORDER BY cohort, week_offset""".stripMargin))

  /** Bigram collocation mining by pointwise mutual information — the
    * phrase/compound detector of a corpus pipeline (v01 ranks tokens;
    * this ranks token PAIRS by association strength). Reported as the
    * PMI RATIO p(ab)/(p(a)p(b)) = c_ab*T^2 / (B*c_a*c_b) rather than its
    * log: every factor is an exact integer count, so the only float op
    * is one final division — cross-engine deterministic, where ln()
    * would hang the hash gate on libm rounding differences (PMI's log is
    * monotone in the ratio, so ranking is unchanged). Count floor >= 5
    * suppresses one-off pairs, the standard collocation practice.
    *
    * Scale: bigram generation is a per-row transform along each
    * document (no shuffle); one hash aggregate on (w1,w2) with map-side
    * combine; the unigram vocab joins are broadcast here (token vocab is
    * heavy-hitter-bounded) and degrade to shuffle joins on the bigram
    * key if a corpus's vocab outgrows the broadcast threshold. The
    * integer products fit BIGINT to ~10^18 token corpora; past that the
    * numerator/denominator pair moves to DOUBLE with a documented ulp
    * tolerance. */
  val v02 = QueryDef(
    "v02_pmi_bigrams",
    (s, d) => {
      import graft.functions.TextFunctions._
      val tok = Tables.documents(s, d).select(tokens(col("text")).as("toks"))
      val uni = tok.select(explode(col("toks")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val bigCnt = tok.filter(size(col("toks")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(toks)-2), i -> struct(toks[i] AS w1, toks[i+1] AS w2))")).as("b"))
        .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .agg(count(lit(1)).as("c_ab"))
      val tRow = uni.agg(sum(col("c")).as("t_total"))
      val bRow = bigCnt.agg(sum(col("c_ab")).as("b_total"))
      bigCnt.filter(col("c_ab") >= 5)
        .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c_a"))), "w1")
        .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c_b"))), "w2")
        .crossJoin(broadcast(tRow)).crossJoin(broadcast(bRow))
        .withColumn("pmi_ratio",
          (col("c_ab") * col("t_total") * col("t_total")).cast("double") /
            (col("b_total") * col("c_a") * col("c_b")).cast("double"))
        .select(col("w1"), col("w2"), col("c_ab"), col("pmi_ratio"))
        .orderBy(col("pmi_ratio").desc, col("w1"), col("w2"))
        .limit(30)
    },
    Some(graft.operators.TextDedup.TokCte + """,
           |uni AS (SELECT w, COUNT(*) AS c
           |        FROM (SELECT unnest(toks) AS w FROM tok) GROUP BY w),
           |bc AS (
           |  SELECT toks[i+1] AS w1, toks[i+2] AS w2, COUNT(*) AS c_ab
           |  FROM (SELECT toks, unnest(range(len(toks)-1)) AS i
           |        FROM tok WHERE len(toks) >= 2)
           |  GROUP BY 1, 2),
           |tt AS (SELECT CAST(SUM(c) AS BIGINT) AS t_total FROM uni),
           |bt AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS b_total FROM bc)
           |SELECT w1, w2, c_ab,
           |       CAST(c_ab * t_total * t_total AS DOUBLE)
           |         / CAST(b_total * ua.c * ub.c AS DOUBLE) AS pmi_ratio
           |FROM bc JOIN uni ua ON bc.w1 = ua.w JOIN uni ub ON bc.w2 = ub.w, tt, bt
           |WHERE c_ab >= 5
           |ORDER BY pmi_ratio DESC, w1, w2 LIMIT 30""".stripMargin))

  /** GROUPING SETS — the general multi-level aggregate q16 (ROLLUP) and
    * q21 (CUBE) are special cases of: an explicit, non-hierarchical set
    * list (full detail, one-dimension subtotal, grand total). Subtotal
    * rows carry NULL keys in both engines; ordering pinned by
    * grouping_id then NULLS FIRST. Scale: Spark expands grouping sets
    * into one Expand + single hash aggregate — one shuffle regardless of
    * the set count. */
  val q24 = QueryDef(
    "q24_grouping_sets",
    (s, d) =>
      Tables.orders(s, d)
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), exactSum(col("o_totalprice")).as("sum_price"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first),
    Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           |       GROUPING(o_orderstatus, o_orderpriority) AS gid
           |FROM orders
           |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
           |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin))

  /** Daily-metric anomaly detection by z-score — the statistical form of
    * the reference's fixed pct-diff alert (tabjolt_email.py's +20% red
    * flag): a day is anomalous when its total deviates from the
    * all-days mean by more than [[AnomalyZ]] standard deviations.
    *
    * Cross-engine determinism: both moments are EXACT decimal
    * aggregates — daily sums in DECIMAL(18,2), their squares in
    * DECIMAL(38,4) (both multiplications stay inside the type, no
    * rounding) — so aggregation order cannot perturb them; mean,
    * variance, sqrt and z are then a fixed chain of per-row IEEE double
    * ops written identically in both engines. Scale: one hash aggregate
    * on day + a 1-row moment frame broadcast back; no window, no second
    * scan. */
  private val AnomalyZ = 1.5

  val e04 = QueryDef(
    "e04_daily_anomaly",
    (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val daily = Tables.events(s, d)
        .groupBy(dayofmonth(col("ts")).as("dom"))
        .agg(sum(col("value").cast(DecimalType(18, 2))).as("dsum_dec"))
      val st = daily.agg(
        sum(col("dsum_dec")).cast("double").as("tot"),
        sum((col("dsum_dec") * col("dsum_dec")).cast(DecimalType(38, 4)))
          .cast("double").as("totsq"),
        count(lit(1)).as("n"))
      val z = (col("dsum") - col("tot") / col("n")) /
        sqrt(col("totsq") / col("n") -
          (col("tot") / col("n")) * (col("tot") / col("n")))
      daily.crossJoin(broadcast(st))
        .withColumn("dsum", col("dsum_dec").cast("double"))
        .withColumn("z", z)
        .select(col("dom"), col("dsum"), col("z"),
          (abs(col("z")) > AnomalyZ).as("is_anomaly"))
        .orderBy(col("dom"))
    },
    Some(s"""WITH daily AS (
           |  SELECT day(ts) AS dom, SUM(CAST(value AS DECIMAL(18,2))) AS dsum_dec
           |  FROM events GROUP BY 1),
           |st AS (
           |  SELECT CAST(SUM(dsum_dec) AS DOUBLE) AS tot,
           |         CAST(SUM(CAST(dsum_dec * dsum_dec AS DECIMAL(38,4))) AS DOUBLE) AS totsq,
           |         COUNT(*) AS n
           |  FROM daily)
           |SELECT dom, CAST(dsum_dec AS DOUBLE) AS dsum,
           |       (CAST(dsum_dec AS DOUBLE) - tot / n)
           |         / sqrt(totsq / n - (tot / n) * (tot / n)) AS z,
           |       abs((CAST(dsum_dec AS DOUBLE) - tot / n)
           |         / sqrt(totsq / n - (tot / n) * (tot / n))) > $AnomalyZ AS is_anomaly
           |FROM daily, st ORDER BY dom""".stripMargin))

  /** Window-function breadth in one pass: offset functions (lag/lead),
    * running frame aggregates (first_value, running max), and relative
    * rank (percent_rank, cume_dist) — all over ONE (user_id, ts,
    * event_id) window, so the whole suite costs a single sort shuffle
    * (Spark plans every function in this query into one Window node —
    * the plan shape a 100 TB per-entity history scan wants; all outputs
    * are row selections or integer-rank ratios, never float
    * accumulations, so the doubles hash-match). */
  val q25 = QueryDef(
    "q25_window_suite",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn("prev_v", lag(col("value"), 1).over(w))
        .withColumn("next_v", lead(col("value"), 1).over(w))
        .withColumn("first_v", first(col("value")).over(run))
        .withColumn("run_max", max(col("value")).over(run))
        .withColumn("pct_rank", percent_rank().over(w))
        .withColumn("cume", cume_dist().over(w))
        .select(col("user_id"), col("event_id"), col("prev_v"), col("next_v"),
          col("first_v"), col("run_max"), col("pct_rank"), col("cume"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""SELECT user_id, event_id,
           |       LAG(value, 1) OVER w AS prev_v,
           |       LEAD(value, 1) OVER w AS next_v,
           |       FIRST_VALUE(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |         ROWS UNBOUNDED PRECEDING) AS first_v,
           |       MAX(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |         ROWS UNBOUNDED PRECEDING) AS run_max,
           |       PERCENT_RANK() OVER w AS pct_rank,
           |       CUME_DIST() OVER w AS cume
           |FROM events
           |WHERE event_type = 'purchase'
           |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
           |ORDER BY user_id, event_id""".stripMargin))

  /** Event-transition matrix — the per-entity sequence statistic a
    * behavioral model (or a next-event training corpus) is built from:
    * for every consecutive (event, next event) pair within a user's
    * timeline, the transition count and the row-normalized transition
    * probability P(to | from). The probability is a ratio of two exact
    * integer counts evaluated in IEEE double — both engines divide the
    * same integers, so the doubles hash-match (the [[v02]] PMI pattern).
    *
    * Scale: the lead() window shares e01's (user_id, ts) sort shuffle —
    * in a pipeline computing both, one exchange serves the two; the
    * transition aggregate collapses to |event_types|² rows, so the
    * normalizing window runs on a trivially small frame. */
  val e05 = QueryDef(
    "e05_event_transitions",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p",
          col("n") * lit(1.0) /
            sum(col("n")).over(Window.partitionBy(col("from_type"))))
        .orderBy(col("from_type"), col("to_type"))
    },
    Some("""WITH nx AS (
           |  SELECT user_id, event_type,
           |         LEAD(event_type) OVER (PARTITION BY user_id
           |                                ORDER BY ts, event_id) AS next_type
           |  FROM events)
           |SELECT event_type AS from_type, next_type AS to_type,
           |       COUNT(*) AS n,
           |       COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY event_type) AS p
           |FROM nx WHERE next_type IS NOT NULL
           |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin))

  /** RFM user segmentation — the classic entity-level rollup a
    * behavioral warehouse serves: per user, Recency (days from last
    * activity to the corpus end), Frequency (event count), Monetary
    * (cents-exact purchase sum), and an NTILE(4) frequency quartile.
    * The quartile's order key is (frequency DESC, user_id) — total, so
    * NTILE's even-split-with-remainder-first semantics (identical in
    * both engines) is deterministic. The corpus end timestamp is a
    * scalar MAX broadcast into the per-user projection.
    *
    * Scale: one aggregate keyed by user_id; the NTILE window is a
    * global sort over |users| rows — the one genuinely global step, and
    * it runs on the AGGREGATED frame (at 100 TB: users << events; if
    * users themselves explode, swap NTILE for a percentile cut from
    * sk04's mergeable histogram and the global sort disappears). */
  val e06 = QueryDef(
    "e06_rfm",
    (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val ev = Tables.events(s, d)
      val endTs = ev.agg(max(col("ts")).as("end_ts"))
      val perUser = ev.groupBy(col("user_id")).agg(
        max(col("ts")).as("last_ts"),
        count(lit(1)).as("frequency"),
        coalesce(sum(when(col("event_type") === "purchase",
          col("value").cast(DecimalType(18, 2)))), lit(0).cast(DecimalType(18, 2)))
          .cast("double").as("monetary"))
      val w = Window.orderBy(col("frequency").desc, col("user_id"))
      perUser.crossJoin(broadcast(endTs))
        .withColumn("recency_days",
          datediff(to_date(col("end_ts")), to_date(col("last_ts"))))
        .withColumn("f_quartile", ntile(4).over(w))
        .select(col("user_id"), col("recency_days"), col("frequency"),
          col("monetary"), col("f_quartile"))
        .orderBy(col("user_id"))
    },
    Some("""WITH endt AS (SELECT MAX(ts) AS end_ts FROM events),
           |pu AS (
           |  SELECT user_id, MAX(ts) AS last_ts, COUNT(*) AS frequency,
           |         CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
           |           THEN CAST(value AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS monetary
           |  FROM events GROUP BY user_id)
           |SELECT user_id,
           |       CAST(date_diff('day', CAST(last_ts AS DATE), CAST(end_ts AS DATE))
           |            AS INTEGER) AS recency_days,
           |       frequency, monetary,
           |       CAST(NTILE(4) OVER (ORDER BY frequency DESC, user_id) AS INTEGER)
           |         AS f_quartile
           |FROM pu, endt ORDER BY user_id""".stripMargin))

  /** Rolling active users — DAU and 7-day WAU per day, the dashboard
    * twin every engagement warehouse serves. Rolling DISTINCT cannot
    * ride a window frame (distinct isn't decomposable over frames), so
    * the plan is the date-band join: the tiny day dimension BROADCAST
    * against per-(user, day) activity, one aggregate with a conditional
    * distinct for DAU. Counts of exact integers — deterministic.
    *
    * Scale: activity collapses to |users|×|days| before the join (the
    * events table never enters the band join), the day dimension is
    * O(days) and broadcast, and the aggregate shuffles (day, user)
    * pairs — 7×|user-days| rows, independent of event volume. At
    * multi-year scale the band join keys by (day bucket) instead of
    * broadcasting a giant day axis; the shape is unchanged. */
  val e07 = QueryDef(
    "e07_rolling_active",
    (s, d) => {
      val ud = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val days = ud.select(col("d").as("day")).distinct()
      ud.join(broadcast(days),
          col("d") >= date_sub(col("day"), 6) && col("d") <= col("day"))
        .groupBy(col("day"))
        .agg(
          countDistinct(when(col("d") === col("day"), col("user_id"))).as("dau"),
          countDistinct(col("user_id")).as("wau"))
        .orderBy(col("day"))
    },
    Some("""WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
           |days AS (SELECT DISTINCT d AS day FROM ud)
           |SELECT day, COUNT(DISTINCT CASE WHEN d = day THEN user_id END) AS dau,
           |       COUNT(DISTINCT user_id) AS wau
           |FROM days JOIN ud ON d BETWEEN day - 6 AND day
           |GROUP BY day ORDER BY day""".stripMargin))

  /** Per-source vocabulary divergence — the domain-drift diagnostic a
    * corpus-mixing pipeline tracks: L1 distance between each source's
    * token distribution and the corpus-wide distribution. Computed in
    * INTEGER cross-multiplied form — Σ|c_src·N_all − c_all·N_src| over
    * the source×vocab grid — so the aggregate is an exact integer sum
    * with no float-accumulation order anywhere; the reported ratio is
    * ONE division of two exact integers (the v02 determinism pattern,
    * pushed through an entire distance metric).
    *
    * The grid is never materialized: a (source, tok) cell where the
    * source lacks the token contributes |0·N_all − c_all·N_src| =
    * c_all·N_src, so the absent-cell mass has the closed form
    * N_src·(N_all − Σ_present c_all) and the whole metric needs only
    * the PRESENT cells (the per-source aggregate itself, ~|src| rows)
    * plus one per-source correction term. The dense
    * |sources|×|vocab| left-join this replaces is billions of rows at
    * a 10⁸-token vocab — all of it zeros with a closed-form sum.
    *
    * Scale: two token aggregates (per-source and global vocab — the
    * second is the zipfian t22 shape), one inner join of the present
    * cells against the vocab counts (shuffle on tok, |src| rows), and
    * a grouped integer sum; the source-totals and grand-total sides
    * are broadcast. The products stay in i64 while
    * corpus_tokens × source_tokens < 2^63 — beyond that, the same query
    * in DECIMAL(38,0). */
  val v03 = QueryDef(
    "v03_source_divergence",
    (s, d) => {
      import graft.functions.TextFunctions._
      val occ = Tables.documents(s, d)
        .spreadByBytes
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
      // ONE corpus pass: the global vocab and totals roll up from the
      // per-source aggregate by linearity. localCheckpoint materializes
      // the tiny per-source aggregate for its three consumers
      // (measured vs recompute-with-ReuseExchange: 0.70s vs 0.82s at
      // sf0.1 — AQE re-plans each consumer independently and the shared
      // exchange dedup does not survive); freed by Lifecycle.release.
      val src = occ.groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val stot = src.groupBy(col("source")).agg(sum(col("c")).as("n"))
      val allv = src.groupBy(col("tok")).agg(sum(col("c")).as("ac"))
      val atot = allv.agg(sum(col("ac")).as("an"))
      // present cells only: Σ|c·an − ac·n| over (source, tok) pairs the
      // source actually contains, plus Σ_present ac for the correction
      src.join(allv, Seq("tok"))
        .join(broadcast(stot), Seq("source"))
        .crossJoin(broadcast(atot))
        .groupBy(col("source"), col("n"), col("an"))
        .agg(
          sum(abs(col("c") * col("an") - col("ac") * col("n"))).as("present_num"),
          sum(col("ac")).as("present_ac"))
        .select(col("source"),
          (col("present_num") + col("n") * (col("an") - col("present_ac")))
            .as("l1_num"),
          (col("n") * col("an")).as("l1_den"),
          ((col("present_num") + col("n") * (col("an") - col("present_ac")))
            .cast("double") / (col("n") * col("an"))).as("l1"))
        .orderBy(col("source"))
    },
    Some("""WITH tok AS (
           |  SELECT source, list_filter(string_split_regex(lower(trim(text)), '\s+'),
           |                             t -> t <> '') AS toks
           |  FROM documents),
           |occ AS (SELECT source, unnest(toks) AS tok FROM tok),
           |src AS (SELECT source AS s_source, tok AS s_tok, COUNT(*) AS c
           |        FROM occ GROUP BY 1, 2),
           |stot AS (SELECT s_source AS source, SUM(c) AS n FROM src GROUP BY 1),
           |allv AS (SELECT tok, COUNT(*) AS ac FROM occ GROUP BY 1),
           |atot AS (SELECT SUM(ac) AS an FROM allv)
           |SELECT s.source,
           |       CAST(SUM(ABS(COALESCE(src.c, 0) * atot.an - allv.ac * s.n))
           |            AS BIGINT) AS l1_num,
           |       CAST(s.n * atot.an AS BIGINT) AS l1_den,
           |       CAST(CAST(SUM(ABS(COALESCE(src.c, 0) * atot.an - allv.ac * s.n))
           |            AS BIGINT) AS DOUBLE) / CAST(s.n * atot.an AS BIGINT) AS l1
           |FROM stot s CROSS JOIN atot
           |JOIN allv ON TRUE
           |LEFT JOIN src ON src.s_source = s.source AND src.s_tok = allv.tok
           |GROUP BY s.source, s.n, atot.an
           |ORDER BY source""".stripMargin))

  /** Time-series gap-fill / resampling — the dashboard-ETL staple the
    * reference's daily trend queries assume upstream: a metric stream
    * resampled onto a complete hourly calendar, absent buckets
    * zero-filled for additive metrics (event counts) and FORWARD-FILLED
    * for gauges (the last observed hourly max carries across the gap).
    * 24% of (event_type, hour) buckets are empty at sf0.001 — a chart
    * drawn from the raw aggregate silently connects across holes.
    *
    * Scale: the only corpus-sized work is the hourly pre-aggregate
    * (map-side combined count/max, one shuffle on (type, hour)); the
    * calendar scaffold is `sequence()` over each type's [min, max] span
    * — O(types × hours), bounded by wall-clock time, not data — so the
    * left join and the per-type ordered window both run on the tiny
    * resampled frame. Forward fill is `last(_, ignoreNulls)` over rows
    * unbounded-preceding — one pass per type, no self-join. MAX (not
    * SUM) keeps the double gauge deterministic cross-engine. */
  val e08 = QueryDef(
    "e08_hourly_gapfill",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"), max(col("value")).as("hr_max"))
      val span = hourly.groupBy(col("event_type"))
        .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
      val scaffold = span.select(col("event_type"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("hr"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      scaffold.join(hourly, Seq("event_type", "hr"), "left")
        .select(col("event_type"), col("hr"),
          coalesce(col("n"), lit(0L)).as("n_events"),
          col("n").isNull.as("is_gap"),
          last(col("hr_max"), ignoreNulls = true).over(w).as("filled_max"))
        .orderBy(col("event_type"), col("hr"))
    },
    Some("""WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS n,
      |         MAX(value) AS hr_max
      |  FROM events GROUP BY 1, 2
      |), span AS (
      |  SELECT event_type, MIN(hr) AS h0, MAX(hr) AS h1 FROM hourly GROUP BY 1
      |), cal AS (
      |  SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
      |  FROM span
      |)
      |SELECT c.event_type, c.hr,
      |       COALESCE(h.n, 0) AS n_events,
      |       h.n IS NULL AS is_gap,
      |       LAST_VALUE(h.hr_max IGNORE NULLS) OVER (
      |         PARTITION BY c.event_type ORDER BY c.hr
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_max
      |FROM cal c LEFT JOIN hourly h ON h.event_type = c.event_type AND h.hr = c.hr
      |ORDER BY 1, 2""".stripMargin))

  /** Tokenizer induction, step 1 of BPE: the corpus-weighted frequency
    * of every adjacent character pair — the statistic each BPE merge
    * round maximizes. The scale trick is the evaluation order: the
    * corpus first collapses to its VOCABULARY (token -> frequency, a
    * massive reduction: one shuffle with map-side combine), and the
    * per-character explode runs over vocab entries weighted by
    * frequency — so the quadratic-ish character work costs
    * O(Σ|distinct token|), not O(corpus tokens). A real BPE trainer
    * iterates this agg with a merged symbol table; one round through
    * the gate pins the counting semantics both engines agree on.
    * Ties broken by pair text for a total order. */
  val v04 = QueryDef(
    "v04_bpe_pairs",
    (s, d) => {
      import graft.functions.TextFunctions._
      val vocab = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      vocab.filter(length(col("w")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(0, length(w) - 2)," +
            " i -> concat(substring(w, i + 1, 1), substring(w, i + 2, 1)))"))
          .as("pair"))
        .groupBy(col("pair"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(30)
    },
    Some("""WITH tok AS (
           |  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
           |  FROM documents
           |),
           |words AS (
           |  SELECT w, COUNT(*) AS freq
           |  FROM (SELECT unnest(toks) AS w FROM tok) GROUP BY w
           |)
           |SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
           |  SELECT freq, w[i+1] || w[i+2] AS pair
           |  FROM (SELECT w, freq, unnest(range(len(w)-1)) AS i
           |        FROM words WHERE len(w) >= 2))
           |GROUP BY pair ORDER BY cnt DESC, pair LIMIT 30""".stripMargin))

  /** Merge rounds for [[v05]] — small by design: each round costs one
    * aggregation pass over the VOCABULARY (not the corpus), and real
    * BPE trainers run the same driver loop with k in the tens of
    * thousands; 6 rounds pin the full loop mechanics (count → argmax →
    * apply → recount) without turning the gate into a trainer run. */
  private val BpeIters = 6

  /** Iterative BPE training — the LOOP v04 deliberately stopped short
    * of (r15 VERDICT slate #6): k rounds of (count adjacent symbol
    * pairs, weighted by word frequency) → (pick the most frequent
    * pair, ties to the lexicographically smaller) → (merge every
    * left-to-right non-overlapping occurrence into one symbol), then
    * the learned merges APPLIED: the 20 most frequent words emitted
    * with their final symbol segmentation.
    *
    * The cross-engine merge-application trick: a word is represented as
    * its symbols joined by TWO spaces with a single-space pad
    * (" a  b  c "), so applying merge (a,b) is the plain string
    * replace of " a  b " with " ab " — boundary-exact (a symbol's
    * neighbors each keep one space of their own), and both engines'
    * `replace` scans left-to-right without overlap, which is exactly
    * BPE's greedy application order (the only overlap case, a run of
    * identical symbols, resolves leftmost-first in both). No regex, no
    * UDF, no per-row loop.
    *
    * Scale: the corpus collapses to its vocabulary ONCE (v04's
    * reduction — one shuffle with map-side combine); every round then
    * aggregates O(Σ|word symbols|) over vocab entries and collects
    * exactly ONE row (the argmax pair — driver-bounded by
    * construction), and the merge apply is a narrow per-row pass.
    * The k-round lineage is cut with localCheckpoint per round, the
    * [[Similarity.ivfDelta]] convention for driver-iterated state.
    * The oracle unrolls the same k rounds as DuckDB CTE stages —
    * byte-equal counting, ranking, and replace semantics. */
  /** The v05 training loop factored to ONE body shared by the training
    * gate ([[v05]]) and the corpus encoder ([[v06]]) — the two entries
    * can never learn different merge tables. Returns the merge table
    * (step, pair, corpus-weighted count) and the final vocabulary
    * segmentation frame (w, freq, seq — seq in the double-space symbol
    * encoding). Each round collects exactly ONE row (the argmax pair);
    * the vocab-sized state's k-round lineage is cut with
    * localCheckpoint per round. */
  /** The vocabulary collapsed once and symbol-encoded (the double-space
    * form) — the shared starting state of [[bpeTrain]] (one merge per
    * round) and [[bpeTrainBatched]] (top-B per round). */
  private def bpeSeqInit(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions._
    Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("w"), col("freq"),
        concat(lit(" "), array_join(expr(
          "transform(sequence(0, length(w) - 1), i -> substring(w, i + 1, 1))"),
          "  "), lit(" ")).as("seq"))
  }

  /** Corpus-weighted adjacent-symbol pair counts over a seq frame — the
    * per-round statistic both trainers maximize. */
  private def bpePairCounts(seqs: DataFrame): DataFrame =
    seqs
      .withColumn("syms", split(trim(col("seq")), "  "))
      .filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(0, size(syms) - 2)," +
          " i -> concat(element_at(syms, i + 1), ' ', element_at(syms, i + 2)))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))

  private[graft] def bpeTrain(s: SparkSession, d: String,
      iters: Int = BpeIters): (Seq[(Int, String, Long)], DataFrame) = {
    // The corpus-sized vocab collapse runs on the CALLER's session (AQE
    // coalescing earns its keep there); the k merge ROUNDS run over
    // vocab-sized state and are moved to the static-planning loop child
    // when the measured state is small (LoopExec doc — the same gate as
    // connectedComponents: per round, one job instead of one per AQE
    // stage materialization). Round state checkpoints are LAZY: the next
    // round's single-row argmax collect is the materializing action, so
    // each round costs exactly one action end to end.
    val before = s.sparkContext.getPersistentRDDs.keySet
    val seqs0 = bpeSeqInit(s, d).localCheckpoint()
    val pinned = s.sparkContext.getPersistentRDDs.collect {
      case (id, r) if !before.contains(id) => r
    }.toSeq
    val stateBytes = LoopExec.pinnedBytes(s.sparkContext, pinned)
    val staticLoop = stateBytes >= 0 && stateBytes <= LoopExec.staticMaxBytes(s)
    val loopSess = if (staticLoop)
      LoopExec.session(s, LoopExec.partitionsFor(s, stateBytes)) else s
    var seqs = if (staticLoop) LoopExec.bridge(loopSess, seqs0) else seqs0
    val merges = Seq.newBuilder[(Int, String, Long)]
    var exhausted = false
    for (step <- 1 to iters if !exhausted) {
      // one row: the argmax merge of this round (bounded collect)
      val top = bpePairCounts(seqs)
        .orderBy(col("cnt").desc, col("pair")).limit(1).collect()
      // a vocabulary can exhaust its mergeable pairs before BpeIters
      // (every word a single symbol): stop with the merges learned so
      // far — the oracle's LEFT JOIN arm carries seq_k forward
      // unchanged and its empty m_k rounds emit no merge rows, so both
      // engines produce the same truncated table (r16 review: the old
      // require here crashed while the oracle's CROSS JOIN silently
      // annihilated the vocabulary — loud vs wrong, diverging).
      if (top.isEmpty) exhausted = true
      else {
      val (pair, cnt) = (top(0).getString(0), top(0).getLong(1))
      merges += ((step, pair, cnt))
      val Array(l, r) = pair.split(" ", 2)
      // literal (non-regex) replace — both engines scan left-to-right
      // without overlap, BPE's greedy order; no metachar quoting needed.
      // Lazy checkpoint: the next round's argmax collect materializes it
      // (one action per round; lineage still cut per round).
      seqs = seqs.withColumn("seq",
          replace(col("seq"), lit(s" $l  $r "), lit(s" $l$r ")))
        .localCheckpoint(false)
      }
    }
    // hand the final state back on the caller's session — v05/v06
    // compose corpus-scale plans over it under the caller's conf
    (merges.result(), if (staticLoop) LoopExec.bridge(s, seqs) else seqs)
  }

  /** The shared DuckDB CTE chain of the BPE loop — tok → words → seq0 →
    * (p_k, m_k, seq_k) per round — byte-identical text in the [[v05]]
    * and [[v06]] oracles so the engines' merge tables cannot diverge
    * between the two gates. Ends at `seq$BpeIters`. */
  private val BpeCtes: String = {
    val rounds = (1 to BpeIters).map { k =>
      s"""p$k AS (
         |  SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq, syms[i+1] || ' ' || syms[i+2] AS pair
         |    FROM (SELECT freq, str_split(trim(seq), '  ') AS syms,
         |                 unnest(range(len(str_split(trim(seq), '  ')) - 1)) AS i
         |          FROM seq${k - 1}))
         |  GROUP BY pair),
         |m$k AS (SELECT pair, cnt FROM p$k ORDER BY cnt DESC, pair LIMIT 1),
         |seq$k AS MATERIALIZED (
         |  SELECT w, freq,
         |    CASE WHEN pair IS NULL THEN seq ELSE replace(seq,
         |      ' ' || split_part(pair, ' ', 1) || '  ' || split_part(pair, ' ', 2) || ' ',
         |      ' ' || replace(pair, ' ', '') || ' ') END AS seq
         |  FROM seq${k - 1} LEFT JOIN m$k ON TRUE)""".stripMargin
    }
    s"""$BpeBaseCtes,
       |${rounds.mkString(",\n")}""".stripMargin
  }

  /** tok → words → seq0: the oracle's shared trainer starting state
    * ([[bpeSeqInit]]'s mirror), one text for v04/v05/v06's chain and
    * v07's batched chain. (lazy: referenced by [[BpeCtes]], which is
    * declared earlier in the object — a strict val here would still be
    * null at BpeCtes's initialization.)
    *
    * Every per-round state CTE in these chains is `AS MATERIALIZED`:
    * DuckDB INLINES a CTE into each of its references, and seq_k is
    * referenced twice (the next round's pair counts AND the next
    * round's apply), so an un-materialized k-round chain recomputes
    * round 1 up to 2^k times — measured 39 s for v07's 3-round batched
    * chain at sf0.1 vs 0.13 s materialized, and 1.47 s → 0.11 s for
    * v05 (r17 pairing window 1). An accidentally-exponential oracle
    * would also flatter the Spark side of the bench pairing. */
  private lazy val BpeBaseCtes: String =
    """tok AS (
       |  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
       |  FROM documents
       |),
       |words AS (
       |  SELECT w, COUNT(*) AS freq
       |  FROM (SELECT unnest(toks) AS w FROM tok) GROUP BY w
       |),
       |seq0 AS MATERIALIZED (
       |  SELECT w, freq,
       |         ' ' || array_to_string(list_transform(range(len(w)), i -> w[i+1]), '  ') || ' ' AS seq
       |  FROM words)""".stripMargin

  val v05 = QueryDef(
    "v05_bpe_train",
    (s, d) => {
      import s.implicits._
      val (mergeList, seqs) = bpeTrain(s, d)
      val mergeRows = mergeList.toDF("step", "item", "cnt")
        .select(lit("merge").as("stage"), col("step"), col("item"), col("cnt"))
      val encoded = seqs.orderBy(col("freq").desc, col("w")).limit(20)
        .select(lit("word").as("stage"), lit(0).as("step"),
          concat(col("w"), lit(" -> "), trim(col("seq"))).as("item"),
          col("freq").as("cnt"))
      mergeRows.unionByName(encoded)
        .orderBy(col("stage"), col("step"), col("item"))
    },
    Some {
      val mergeSelects = (1 to BpeIters).map(k =>
        s"SELECT 'merge' AS stage, CAST($k AS INTEGER) AS step, pair AS item, cnt FROM m$k")
      s"""WITH $BpeCtes
         |SELECT stage, step, item, cnt FROM (
         |  ${mergeSelects.mkString("\n  UNION ALL\n  ")}
         |  UNION ALL
         |  SELECT 'word', CAST(0 AS INTEGER), w || ' -> ' || trim(seq) AS item, freq AS cnt
         |  FROM (SELECT w, freq, seq FROM seq$BpeIters ORDER BY freq DESC, w LIMIT 20))
         |ORDER BY stage, step, item""".stripMargin
    })

  /** Corpus-scale BPE ENCODING — the learned merges applied to every
    * document (v05 trains the tokenizer and encodes 20 words; a
    * training-data pipeline then tokenizes the WHOLE corpus to budget
    * sequence packing, mixing quotas, and per-source token accounting).
    * Per document: word occurrences, post-merge token count, and
    * tokens-per-word (the compression the merge table bought on that
    * doc).
    *
    * The scale shape is the v04 reduction run in reverse: the corpus
    * collapses to its VOCABULARY once, the k-round merge loop runs over
    * vocab entries ([[bpeTrain]] — one single-row collect per round),
    * each vocab word's final symbol count is derived once, and the
    * corpus-sized work is a single (doc_id, word)-grouped aggregate
    * joined to that per-word count — a shuffle on the word key with
    * map-side combine, never a per-document re-segmentation. At 100 TB
    * the vocabulary is orders of magnitude smaller than the corpus, so
    * the join's vocab side broadcasts or buckets; nothing quadratic
    * exists anywhere.
    *
    * Both engines derive (doc, word) occurrence counts and the per-word
    * symbol count independently, so a drifted merge table, a lossy
    * segmentation, or an occurrence-count bug breaks the hash. */
  val v06 = QueryDef(
    "v06_bpe_encode",
    (s, d) => {
      import graft.functions.TextFunctions._
      val (_, seqs) = bpeTrain(s, d)
      val wordTok = seqs.select(col("w"),
        size(split(trim(col("seq")), "  ")).as("n_sym"))
      Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("n"))
        .join(wordTok, Seq("w"))
        .groupBy(col("doc_id"))
        .agg(sum(col("n")).as("n_words"),
          sum(col("n") * col("n_sym")).as("n_tokens"))
        .withColumn("tokens_per_word",
          col("n_tokens").cast("double") / col("n_words").cast("double"))
        .select(col("doc_id"), col("n_words"), col("n_tokens"),
          col("tokens_per_word"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $BpeCtes,
       |wt AS (SELECT w, len(str_split(trim(seq), '  ')) AS n_sym
       |       FROM seq$BpeIters),
       |dw AS (
       |  SELECT doc_id, unnest(toks) AS w FROM (
       |    SELECT doc_id,
       |           list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS toks
       |    FROM documents))
       |SELECT doc_id, COUNT(*) AS n_words,
       |       CAST(SUM(n_sym) AS BIGINT) AS n_tokens,
       |       CAST(SUM(n_sym) AS DOUBLE) / COUNT(*) AS tokens_per_word
       |FROM dw JOIN wt USING (w)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Batched-BPE round geometry (v07): [[BpeBatchB]] non-interacting
    * merges applied per round out of a [[BpeBatchWindow]]-deep ranked
    * candidate window, for [[BpeBatchRounds]] rounds. Gate-sized; a
    * production trainer runs the same rule with B ~ 256 — what matters
    * is that the per-round driver round-trip amortizes over B merges,
    * because a 32k-merge vocabulary at one merge per round is 32k
    * sequential driver round-trips no cluster can amortize (the v05
    * shape is the semantics pin, not the scale path). */
  private val BpeBatchRounds = 3
  private val BpeBatchB = 8
  private val BpeBatchWindow = 32

  /** True when candidate merge q (higher-ranked) and p cannot be
    * applied independently in one round: they share a symbol, or one's
    * MERGED symbol is a symbol (or the merged symbol) of the other —
    * the case where applying q mints tokens p's pattern would then
    * match, making application order change the result. The SQL mirror
    * lives in v07's oracle; survivors of the rank-order dominance
    * filter are pairwise non-interacting, so the batch is order-free
    * (both engines still apply in rank order). */
  private def bpeConflicts(ql: String, qr: String, pl: String, pr: String): Boolean = {
    val qm = ql + qr; val pm = pl + pr
    ql == pl || ql == pr || qr == pl || qr == pr ||
      qm == pl || qm == pr || pm == ql || pm == qr || qm == pm
  }

  /** Batched BPE training (r16 VERDICT slate #4): per round, ONE
    * vocabulary-cost aggregation ranks all pairs, the top
    * [[BpeBatchWindow]] collect to the driver (bounded), a rank-order
    * dominance filter keeps pairs that no higher-ranked WINDOW pair
    * interacts with ([[bpeConflicts]]), and the first [[BpeBatchB]]
    * survivors are applied in one narrow pass (a chain of literal
    * replaces — B merges for one driver round-trip, vs v05's one).
    * The dominance rule is deliberately NON-greedy (a pair blocked by
    * a higher-ranked pair is skipped even if that blocker was itself
    * blocked): greedy selection is sequentially dependent and has no
    * tractable SQL form, while the dominance filter is one anti-join —
    * the SAME rule on both engines, which is what the gate pins.
    * Returns (round, rank, pair, cnt) merges and the final seq frame. */
  private[graft] def bpeTrainBatched(s: SparkSession, d: String,
      rounds: Int = BpeBatchRounds, b: Int = BpeBatchB,
      window: Int = BpeBatchWindow)
      : (Seq[(Int, Int, String, Long)], DataFrame) = {
    // loop placement + lazy per-round checkpoints: same design (and same
    // measured-bytes gate) as [[bpeTrain]] — see the comment there
    val before = s.sparkContext.getPersistentRDDs.keySet
    val seqs0 = bpeSeqInit(s, d).localCheckpoint()
    val pinned = s.sparkContext.getPersistentRDDs.collect {
      case (id, r) if !before.contains(id) => r
    }.toSeq
    val stateBytes = LoopExec.pinnedBytes(s.sparkContext, pinned)
    val staticLoop = stateBytes >= 0 && stateBytes <= LoopExec.staticMaxBytes(s)
    val loopSess = if (staticLoop)
      LoopExec.session(s, LoopExec.partitionsFor(s, stateBytes)) else s
    var seqs = if (staticLoop) LoopExec.bridge(loopSess, seqs0) else seqs0
    val merges = Seq.newBuilder[(Int, Int, String, Long)]
    var exhausted = false
    for (step <- 1 to rounds if !exhausted) {
      val win = bpePairCounts(seqs)
        .orderBy(col("cnt").desc, col("pair")).limit(window).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      val survivors = win.zipWithIndex.filter { case ((p, _), i) =>
        val Array(pl, pr) = p.split(" ", 2)
        !win.take(i).exists { case (q, _) =>
          val Array(ql, qr) = q.split(" ", 2)
          bpeConflicts(ql, qr, pl, pr)
        }
      }.map(_._1).take(b)
      if (survivors.isEmpty) exhausted = true
      else {
        merges ++= survivors.zipWithIndex.map { case ((p, c), j) =>
          (step, j + 1, p, c)
        }
        val applied = survivors.foldLeft(col("seq")) { case (c, (p, _)) =>
          val Array(l, r) = p.split(" ", 2)
          replace(c, lit(s" $l  $r "), lit(s" $l$r "))
        }
        seqs = seqs.withColumn("seq", applied).localCheckpoint(false)
      }
    }
    (merges.result(), if (staticLoop) LoopExec.bridge(s, seqs) else seqs)
  }

  /** Batched-BPE gate — [[bpeTrainBatched]]'s merge table and top-20
    * word segmentations, hash-checked against a DuckDB unroll of the
    * identical batch rule: per round, pair counts → ranked window →
    * dominance filter (NOT EXISTS against higher-ranked window rows) →
    * first-B survivors → merges applied in rank order by a recursive
    * CTE. Schema carries (step, rk) so a survivor ranked differently,
    * a blocked pair admitted, or an application-order drift all break
    * the hash, not just the final segmentation. */
  val v07 = QueryDef(
    "v07_bpe_batch_train",
    (s, d) => {
      import s.implicits._
      val (mergeList, seqs) = bpeTrainBatched(s, d)
      val mergeRows = mergeList.toDF("step", "rk", "item", "cnt")
        .select(lit("merge").as("stage"), col("step"), col("rk"),
          col("item"), col("cnt"))
      val encoded = seqs.orderBy(col("freq").desc, col("w")).limit(20)
        .select(lit("word").as("stage"), lit(0).as("step"), lit(0).as("rk"),
          concat(col("w"), lit(" -> "), trim(col("seq"))).as("item"),
          col("freq").as("cnt"))
      mergeRows.unionByName(encoded)
        .orderBy(col("stage"), col("step"), col("rk"), col("item"))
    },
    Some {
      val rounds = (1 to BpeBatchRounds).map { k =>
        s"""pb$k AS (
           |  SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
           |    SELECT freq, syms[i+1] || ' ' || syms[i+2] AS pair
           |    FROM (SELECT freq, str_split(trim(seq), '  ') AS syms,
           |                 unnest(range(len(str_split(trim(seq), '  ')) - 1)) AS i
           |          FROM seqb${k - 1}))
           |  GROUP BY pair),
           |wb$k AS MATERIALIZED (
           |  SELECT pair, split_part(pair, ' ', 1) AS l, split_part(pair, ' ', 2) AS r,
           |         cnt, rk FROM (
           |    SELECT pair, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS rk
           |    FROM pb$k)
           |  WHERE rk <= $BpeBatchWindow),
           |selb$k AS MATERIALIZED (
           |  SELECT pair, l, r, cnt, ROW_NUMBER() OVER (ORDER BY rk) AS srk
           |  FROM wb$k w
           |  WHERE NOT EXISTS (
           |    SELECT 1 FROM wb$k v WHERE v.rk < w.rk AND (
           |      v.l IN (w.l, w.r) OR v.r IN (w.l, w.r) OR
           |      (v.l || v.r) IN (w.l, w.r, w.l || w.r) OR
           |      (w.l || w.r) IN (v.l, v.r)))
           |  QUALIFY srk <= $BpeBatchB),
           |apb$k AS (
           |  SELECT w, freq, seq, 0 AS j FROM seqb${k - 1}
           |  UNION ALL
           |  SELECT a.w, a.freq,
           |         replace(a.seq, ' ' || m.l || '  ' || m.r || ' ',
           |                 ' ' || m.l || m.r || ' '),
           |         a.j + 1
           |  FROM apb$k a JOIN selb$k m ON m.srk = a.j + 1),
           |seqb$k AS MATERIALIZED (
           |  SELECT w, freq, seq FROM apb$k
           |  WHERE j = (SELECT COALESCE(MAX(srk), 0) FROM selb$k))""".stripMargin
      }
      val mergeSelects = (1 to BpeBatchRounds).map(k =>
        s"SELECT 'merge' AS stage, CAST($k AS INTEGER) AS step, " +
          s"CAST(srk AS INTEGER) AS rk, pair AS item, cnt FROM selb$k")
      s"""WITH RECURSIVE $BpeBaseCtes,
         |seqb0 AS MATERIALIZED (SELECT w, freq, seq FROM seq0),
         |${rounds.mkString(",\n")}
         |SELECT stage, step, rk, item, cnt FROM (
         |  ${mergeSelects.mkString("\n  UNION ALL\n  ")}
         |  UNION ALL
         |  SELECT 'word', CAST(0 AS INTEGER), CAST(0 AS INTEGER),
         |         w || ' -> ' || trim(seq) AS item, freq AS cnt
         |  FROM (SELECT w, freq, seq FROM seqb$BpeBatchRounds
         |        ORDER BY freq DESC, w LIMIT 20))
         |ORDER BY stage, step, rk, item""".stripMargin
    })

  /** Model weights for [[c02]] — feature name -> integer weight. A real
    * deployment loads these from a model artifact table; the POINT is
    * that they arrive as DATA (a broadcast-joined table), so retraining
    * never touches query code. Integer weights keep the logit exact:
    * a float dot product would make the gate hash hostage to
    * cross-engine summation order. */
  private val QualityModelWeights: Seq[(String, Long)] = Seq(
    "f_tokens" -> 3L, "f_digits" -> -2L, "f_punct" -> -1L, "f_chars" -> 1L)

  /** Model-as-data quality scoring — the "apply the trained classifier
    * to the corpus" pattern every curation pipeline ships: engineered
    * per-document features are melted long, joined to a broadcast
    * weights table, reduced to a linear logit, and bucketed into
    * per-source deciles (the form quota/threshold decisions consume:
    * "keep the top 30% of each source"). Differs from the heuristic
    * scorers (t03/t13/c01) in that the MODEL is runtime data, not code.
    *
    * Scale: features are one per-row pass; the melt multiplies rows by
    * |features| (4) before a hash agg back to one row per doc — the
    * weights join is a broadcast of a |features|-row table (never a
    * shuffle); the decile is one window shuffle PARTITIONED BY SOURCE
    * (a global NTILE would serialize the corpus through one task — the
    * per-source rank is both the semantics curation wants and the
    * shape that scales). */
  val c02 = QueryDef(
    "c02_quality_model",
    (s, d) => {
      import graft.functions.TextFunctions._
      val weights = {
        import s.implicits._
        QualityModelWeights.toDF("feature", "weight")
      }
      val feats = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(tokens(col("text"))).cast("long").as("f_tokens"),
          length(regexp_replace(col("text"), "[^0-9]", "")).cast("long").as("f_digits"),
          length(regexp_replace(col("text"), "[^.,!?;:]", "")).cast("long").as("f_punct"),
          col("n_chars").as("f_chars"))
      val melted = feats.select(col("doc_id"), col("source"),
        explode(expr("map('f_tokens', f_tokens, 'f_digits', f_digits," +
          " 'f_punct', f_punct, 'f_chars', f_chars)")).as(Seq("feature", "fval")))
      melted.join(broadcast(weights), "feature")
        .groupBy(col("doc_id"), col("source"))
        .agg(sum(col("fval") * col("weight")).as("logit"))
        .withColumn("decile", ntile(10).over(
          Window.partitionBy(col("source"))
            .orderBy(col("logit").desc, col("doc_id"))))
        .select(col("doc_id"), col("source"), col("logit"), col("decile"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH feat AS (
           |  SELECT doc_id, source,
           |         CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')) AS BIGINT) AS f_tokens,
           |         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS f_digits,
           |         CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT) AS f_punct,
           |         n_chars AS f_chars
           |  FROM documents
           |),
           |w(feature, weight) AS (VALUES
           |  ('f_tokens', 3), ('f_digits', -2), ('f_punct', -1), ('f_chars', 1)),
           |melted AS (
           |  SELECT doc_id, source, 'f_tokens' AS feature, f_tokens AS fval FROM feat
           |  UNION ALL SELECT doc_id, source, 'f_digits', f_digits FROM feat
           |  UNION ALL SELECT doc_id, source, 'f_punct', f_punct FROM feat
           |  UNION ALL SELECT doc_id, source, 'f_chars', f_chars FROM feat
           |),
           |scored AS (
           |  SELECT doc_id, source, CAST(SUM(fval * weight) AS BIGINT) AS logit
           |  FROM melted JOIN w USING (feature)
           |  GROUP BY doc_id, source
           |)
           |SELECT doc_id, source, logit,
           |       CAST(NTILE(10) OVER (PARTITION BY source
           |              ORDER BY logit DESC, doc_id) AS INTEGER) AS decile
           |FROM scored ORDER BY doc_id""".stripMargin))

  /** Composed curation pipeline — the INTERACTION gate: the full ring
    * CurationDemo narrates, as one hash-checked catalog entry. Chains
    * t23 (near-dup canonical keep mask) → t15 (benchmark
    * decontamination, ≥5 shared shingles) → c02 (model quality cut,
    * top-7 deciles per source) → [[Corpus.packSequences]] over exactly
    * the survivors (sequence budgets computed on the FINAL membership —
    * packing before curating would leave under-filled sequences mixing
    * curated and dropped docs). Each member operator stays individually
    * gated; this entry pins that their composition — dedup → cut → pack
    * determinism — also matches the oracle's CTE chain of the same
    * steps.
    *
    * Scale: pure composition — every member keeps its own banded /
    * pre-aggregated shape, and Catalyst plans the whole ring as ONE
    * query (plan audited via PlanDump, r13): the member orderBys are
    * eliminated below the joins (EliminateSorts — no ordering-only Sort
    * survives except the root), and the membership joins all hash on
    * doc_id (each member side pays its own derivation exchange — they
    * are different aggregates — but no re-shuffle of the corpus scan
    * happens beyond them). */
  val c03 = QueryDef(
    "c03_curation_pipeline",
    (s, d) => {
      val kept = Corpus.t23.fn(s, d).filter(col("keep")).select(col("doc_id"))
      val contaminated = TextDedup.t15.fn(s, d).select(col("doc_id")).distinct()
      val clean = kept.join(contaminated, Seq("doc_id"), "left_anti")
      val scored = c02.fn(s, d).filter(col("decile") <= 7).select(col("doc_id"))
      val curated = clean.join(scored, Seq("doc_id"))
      Corpus.packSequences(
        Tables.documents(s, d).join(curated, Seq("doc_id")), 2048)
    },
    // built in two halves: the head is a PLAIN string (the tokenizer
    // regex carries backslashes the s-interpolator would reject), the
    // tail is s-interpolated so the quality formula comes from the ONE
    // shared constant (TextDedup.QualitySql) the member oracles use —
    // a formula tweak cannot silently leave this composition behind
    Some("""WITH RECURSIVE tok AS (
      |  SELECT doc_id, source, lang, text, n_chars,
      |         list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
      |  FROM documents
      |),
      |sh AS (
      |  SELECT DISTINCT doc_id, toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS shingle
      |  FROM (SELECT doc_id, toks, unnest(range(len(toks)-2)) AS i FROM tok WHERE len(toks) >= 3)
      |),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |),
      |edges AS (
      |  SELECT doc1, doc2
      |  FROM pairs JOIN sz x ON x.doc_id = doc1 JOIN sz y ON y.doc_id = doc2
      |  WHERE inter * 1.0 / (x.n + y.n - inter) >= 0.6
      |),
      |und AS (SELECT doc1 AS a, doc2 AS b FROM edges UNION ALL SELECT doc2, doc1 FROM edges),
      |reach AS (
      |  SELECT a AS v, a AS label FROM und
      |  UNION
      |  SELECT u.b, r.label FROM reach r JOIN und u ON u.a = r.v
      |),
      |cc AS (SELECT v AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY v),""".stripMargin +
      s"""
      |qual AS (SELECT doc_id,
      |       ${TextDedup.QualitySql} AS quality FROM tok),
      |keepers AS (
      |  SELECT s.doc_id
      |  FROM qual s LEFT JOIN cc ON cc.doc_id = s.doc_id
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY COALESCE(cc.cluster_id, s.doc_id)
      |            ORDER BY s.quality DESC, s.doc_id) = 1
      |),
      |contam AS (
      |  SELECT DISTINCT doc_id FROM (
      |    SELECT c.doc_id, b.bench_id
      |    FROM (SELECT doc_id, shingle FROM sh WHERE doc_id % 20 <> 7) c
      |    JOIN (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 20 = 7) b
      |      ON c.shingle = b.shingle
      |    GROUP BY 1, 2 HAVING COUNT(*) >= 5)
      |),
      |feat AS (
      |  SELECT doc_id, source,
      |         CAST(len(toks) AS BIGINT) AS f_tokens,
      |         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS f_digits,
      |         CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT) AS f_punct,
      |         n_chars AS f_chars
      |  FROM tok
      |),
      |w(feature, weight) AS (VALUES
      |  ('f_tokens', 3), ('f_digits', -2), ('f_punct', -1), ('f_chars', 1)),
      |melted AS (
      |  SELECT doc_id, source, 'f_tokens' AS feature, f_tokens AS fval FROM feat
      |  UNION ALL SELECT doc_id, source, 'f_digits', f_digits FROM feat
      |  UNION ALL SELECT doc_id, source, 'f_punct', f_punct FROM feat
      |  UNION ALL SELECT doc_id, source, 'f_chars', f_chars FROM feat
      |),
      |logits AS (
      |  SELECT doc_id, source, CAST(SUM(fval * weight) AS BIGINT) AS logit
      |  FROM melted JOIN w USING (feature) GROUP BY doc_id, source
      |),
      |deciles AS (
      |  SELECT doc_id, NTILE(10) OVER (PARTITION BY source ORDER BY logit DESC, doc_id) AS decile
      |  FROM logits
      |),
      |curated AS (
      |  SELECT k.doc_id
      |  FROM keepers k
      |  JOIN deciles dc ON dc.doc_id = k.doc_id AND dc.decile <= 7
      |  LEFT JOIN contam x ON x.doc_id = k.doc_id
      |  WHERE x.doc_id IS NULL
      |)
      |SELECT doc_id, source, CAST(len(toks) AS INTEGER) AS n_tokens,
      |       CAST(FLOOR((cum - len(toks)) / 2048.0) AS BIGINT) AS seq_id
      |FROM (
      |  SELECT t.doc_id, t.source, t.toks,
      |         SUM(len(t.toks)) OVER (PARTITION BY t.source ORDER BY t.doc_id
      |                                ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM tok t JOIN curated USING (doc_id))
      |ORDER BY doc_id""".stripMargin))

  /** Nightly-maintenance composition — the INCREMENTAL ring as one
    * hash-checked gate, chaining both index families' delta steps with
    * the probe that consumes them. The pipeline a daily 100 TB
    * deployment actually runs when a crawl slice (doc_id % 10 == 7 /
    * vec_id % 5 == 4, the shared slice conventions) arrives:
    *
    *  1. text: the persisted RESIDENT pair index
    *     ([[TextDedup.ResidentPairIndex]] — yesterday's state) is grown
    *     by the t34 delta ([[TextDedup.pairDelta]]: slice bands probe
    *     the corpus band index, candidates exact-verified) — an APPEND,
    *     never a corpus re-pair;
    *  2. the t25 dedup probe runs over the GROWN index
    *     ([[TextDedup.probeKeep]]) — the keep mask tomorrow's ingest
    *     acts on;
    *  3. vectors: the s08 IVF delta segment
    *     ([[Similarity.IvfIncIndex]]) assigns only the new slice
    *     against frozen centroids; readers union base ∪ delta.
    *
    * The oracle is FULL-REBUILD EQUIVALENCE, recomputed from scratch in
    * DuckDB: the grown pair set must hash-equal the all-pairs Jaccard
    * of the whole corpus (the PairIndexDeltaSpec union invariant,
    * promoted to the DuckDB gate), the keep mask must equal a probe of
    * that from-scratch set, and the segment union must equal a whole-
    * corpus re-assignment against the persisted centroids. Any drift —
    * a pair double-counted or missed by the append, probe divergence,
    * assignment nondeterminism, a torn segment — breaks the hash.
    *
    * Scale: every stage keeps its member's shape — the delta is
    * O(slice × bands) against a persisted signature read, the probe is
    * one semi-join + anti-join on the batch's pair neighborhood, the
    * IVF delta is ∝ |slice| — so the whole nightly run costs ∝ the
    * slice, never ∝ the corpus (measured: PLANS.md SCALE-DEEP/SIG). */
  val c04 = QueryDef(
    "c04_nightly_maintenance",
    (s, d) => {
      val resident = TextDedup.ResidentPairIndex.ensure(s, d)
      val grown = resident.unionByName(TextDedup.pairDelta(s, d))
      val keep = TextDedup.probeKeep(s, d, grown)
      graft.functions.VectorExpressions.register(s)
      val (base, delta) = Similarity.IvfIncIndex.ensure(s, d)
      val nullId2 = lit(null).cast("long")
      grown.select(lit("pairs").as("stage"), col("doc1").as("id"),
          col("doc2").as("id2"), col("jaccard").as("val"))
        .unionByName(keep.select(lit("dedup").as("stage"),
          col("doc_id").as("id"), nullId2.as("id2"),
          when(col("keep"), 1.0).otherwise(0.0).as("val")))
        .unionByName(base.unionByName(delta).select(lit("ivf").as("stage"),
          col("vec_id").as("id"), nullId2.as("id2"),
          col("cell").cast("double").as("val")))
        .orderBy(col("stage"), col("id"), col("id2"))
    },
    None,
    oracleLate = Some { sfDir =>
      s"""WITH jp AS (${TextDedup.JaccardPairsSql}),
         |batch AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 7),
         |${TextDedup.KeepDomCtes},
         |${Similarity.ivfAssignCtes(sfDir)}
         |SELECT 'pairs' AS stage, doc1 AS id, doc2 AS id2, jaccard AS val FROM jp
         |UNION ALL
         |SELECT 'dedup', b.doc_id, CAST(NULL AS BIGINT),
         |       CASE WHEN dom.doc_id IS NULL THEN 1.0 ELSE 0.0 END
         |FROM batch b LEFT JOIN dom ON b.doc_id = dom.doc_id
         |UNION ALL
         |SELECT 'ivf', vec_id, CAST(NULL AS BIGINT), CAST(cell AS DOUBLE)
         |FROM ranked WHERE arank = 1
         |ORDER BY stage, id, id2""".stripMargin
    })

  /** Ring-promotion LOOP gate — the invariant c04 (one night) cannot
    * see: run the WHOLE multi-night maintenance cycle through
    * [[TextDedup.PromotedPairIndex]], where each night ends by
    * atomically PROMOTING the grown pair index as the next resident
    * state and the next night starts from that promotion, then check
    * EVERY promoted state — not just the final one — against a
    * from-scratch DuckDB rebuild restricted to the docs present that
    * night. A pair dropped or duplicated by any promotion, a night
    * started from the wrong state, or a torn publish serving a partial
    * index all break the hash at the night where they happen, which
    * pins down WHERE the loop drifted.
    *
    * Scale: the gate's cost is the ring's cost — night 0 is the only
    * corpus-proportional build; each later night is a slice-band probe
    * + a pair-set-sized promotion write (measured per-night ∝ slice at
    * 125k docs: PLANS.md RING-LOOP). */
  val c05 = QueryDef(
    "c05_ring_promotion",
    (s, d) => {
      val nights = 0 to TextDedup.PromotedPairIndex.SliceRems.size
      nights.map { k =>
        TextDedup.PromotedPairIndex.ensure(s, d, k)
          .select(lit(k).as("night"), col("doc1"), col("doc2"), col("jaccard"))
      }.reduce(_ unionByName _)
        .orderBy(col("night"), col("doc1"), col("doc2"))
    },
    Some {
      val rems = TextDedup.PromotedPairIndex.SliceRems
      val branches = (0 to rems.size).map { k =>
        val future = rems.drop(k)
        val cond =
          if (future.isEmpty) "TRUE"
          else future.map(r => s"doc1 % 10 <> $r AND doc2 % 10 <> $r")
            .mkString(" AND ")
        s"SELECT $k AS night, doc1, doc2, jaccard FROM jp WHERE $cond"
      }
      s"""WITH jp AS (${TextDedup.JaccardPairsSql})
         |${branches.mkString("\nUNION ALL\n")}
         |ORDER BY night, doc1, doc2""".stripMargin
    })

  /** Ring FOLD gate — the s10 of the pair ring (r15 VERDICT slate #1).
    * c05 proves every night's PROMOTION; what it cannot see is the
    * segment-tail FOLD: [[TextDedup.PromotedPairIndex.maintained]]
    * serves the ratio-gated folded layout (one size-targeted segment
    * replacing the night-0 + delta tail) once
    * [[TextDedup.PromotedPairIndex.foldDue]] trips — which the
    * fixture's delta tail does at every SF — and this gate probes THAT
    * layout: the served pair set, plus the t25 keep-mask probe run over
    * it (the consumer a fold could silently corrupt), both hash-checked
    * against the same from-scratch DuckDB rebuild c05's final night
    * uses. A pair dropped or duplicated by the fold, a torn folded
    * publish, or probe divergence over the folded layout all break the
    * hash; arm equality and the policy edges (degraded listings never
    * due, fold-once idempotence) are pinned in CompactionSpec.
    *
    * Scale: the fold is the LSM rebase a segment-per-night pair ring
    * needs — without it a year of nights is ~365 small segments and
    * every probe pays the scan tail; with the ratio gate each fold is
    * ∝ pair-set bytes and the segment count stays O(1). Reference
    * anchor: the daily cron shape, `README.md:9`,
    * `tabjolt_email.py:345-394`. */
  val c06 = QueryDef(
    "c06_ring_fold",
    (s, d) => {
      val pairs = TextDedup.PromotedPairIndex.maintained(s, d)
      val keep = TextDedup.probeKeep(s, d, pairs)
      val nullId2 = lit(null).cast("long")
      pairs.select(lit("pairs").as("stage"), col("doc1").as("id"),
          col("doc2").as("id2"), col("jaccard").as("val"))
        .unionByName(keep.select(lit("keep").as("stage"),
          col("doc_id").as("id"), nullId2.as("id2"),
          when(col("keep"), 1.0).otherwise(0.0).as("val")))
        .orderBy(col("stage"), col("id"), col("id2"))
    },
    Some(s"""WITH jp AS (${TextDedup.JaccardPairsSql}),
       |batch AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 7),
       |${TextDedup.KeepDomCtes}
       |SELECT 'pairs' AS stage, doc1 AS id, doc2 AS id2, jaccard AS val FROM jp
       |UNION ALL
       |SELECT 'keep', b.doc_id, CAST(NULL AS BIGINT),
       |       CASE WHEN dom.doc_id IS NULL THEN 1.0 ELSE 0.0 END
       |FROM batch b LEFT JOIN dom ON b.doc_id = dom.doc_id
       |ORDER BY stage, id, id2""".stripMargin))

  /** Ring RETRACTION gate — the DELETE arm of the pair ring (the one
    * lifecycle direction c05/c06 never exercise): a tombstone set
    * (takedowns/opt-outs, fixture: doc_id % 17 == 3 — deliberately
    * UNALIGNED with the night slices so tombstones straddle resident
    * and delta segments) is retracted from the served state
    * ([[TextDedup.retractPairs]] over
    * [[TextDedup.PromotedPairIndex.maintained]]), and the t25 keep-mask
    * probe runs over the retracted frame with the tombstoned batch ids
    * gone. The oracle re-derives EVERYTHING from scratch over the
    * reduced corpus — tokenize → shingle → pair → keep calculus, all
    * over `live` — so it never mirrors the engine's filter shape: the
    * gate proves the retraction IDENTITY (filtered published state ≡
    * from-scratch build of the reduced corpus) and that the probe over
    * it REINSTATES docs whose only dominators died (RetractionSpec
    * plants that case explicitly).
    *
    * Scale: the served state is never rebuilt — two anti-joins against
    * a metadata-sized tombstone table; the probe keeps t25's
    * neighborhood-bounded cost; physical reclamation rides the next
    * ratio-gated fold. */
  val c07 = QueryDef(
    "c07_ring_retract",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val tombs = docs.filter(col("doc_id") % 17 === 3).select(col("doc_id"))
      val pairs = TextDedup.retractPairs(
        TextDedup.PromotedPairIndex.maintained(s, d), tombs)
      val batch = docs
        .filter(col("doc_id") % 10 === 7 && col("doc_id") % 17 =!= 3)
        .select(col("doc_id"))
      val keep = TextDedup.dedupKeepMask(pairs, batch)
      val nullId2 = lit(null).cast("long")
      pairs.select(lit("pairs").as("stage"), col("doc1").as("id"),
          col("doc2").as("id2"), col("jaccard").as("val"))
        .unionByName(keep.select(lit("keep").as("stage"),
          col("doc_id").as("id"), nullId2.as("id2"),
          when(col("keep"), 1.0).otherwise(0.0).as("val")))
        .orderBy(col("stage"), col("id"), col("id2"))
    },
    Some(s"""WITH live AS (SELECT * FROM documents WHERE doc_id % 17 <> 3),
       |jp AS (${TextDedup.jaccardPairsSqlFrom("live")}),
       |batch AS (SELECT doc_id FROM live WHERE doc_id % 10 = 7),
       |${TextDedup.KeepDomCtes}
       |SELECT 'pairs' AS stage, doc1 AS id, doc2 AS id2, jaccard AS val FROM jp
       |UNION ALL
       |SELECT 'keep', b.doc_id, CAST(NULL AS BIGINT),
       |       CASE WHEN dom.doc_id IS NULL THEN 1.0 ELSE 0.0 END
       |FROM batch b LEFT JOIN dom ON b.doc_id = dom.doc_id
       |ORDER BY stage, id, id2""".stripMargin))

  /** Multi-night ring SOAK gate — the composition-over-time invariant
    * none of c04-c07 can see (each gates ONE lifecycle arm; the failure
    * mode that matters at 100 TB is state corruption that only appears
    * after promote → fold → retract → promote CHAINS). Runs
    * [[TextDedup.SoakRing]]'s five simulated nights (build, grow 3,
    * grow 7 + ratio-gated fold, retract the %17 tombstones, grow the
    * late slice 1 on top of the retraction — full schedule in the ring's
    * Scaladoc) and hash-checks, per night, the SERVED pair set AND the
    * keep-mask probe of that night's arriving batch (night 3 re-probes
    * yesterday's slice over the retracted state — the reinstatement
    * direction) against a from-scratch DuckDB derivation of that
    * night's present set. The oracle's per-night present/batch
    * conditions are GENERATED from the ring's own schedule constants,
    * so engine and oracle cannot drift schedules.
    *
    * Scale: the gate's cost is the ring's cost — one corpus-shaped
    * build (night 0), then slice-proportional band probes, a pair-set-
    * proportional fold/retract, and metadata-cheap publications; the
    * per-night cost curve at 125k docs is ScaleSmoke `soak`
    * (PLANS.md r17). */
  val c08 = QueryDef(
    "c08_ring_soak",
    (s, d) => {
      import TextDedup.SoakRing
      val docsDf = Tables.documents(s, d)
      val nullId2 = lit(null).cast("long")
      (0 to 4).map { k =>
        val pairs = SoakRing.served(s, d, k)
          .select(lit(k).as("night"), lit("pairs").as("stage"),
            col("doc1").as("id"), col("doc2").as("id2"),
            col("jaccard").as("val"))
        if (k == 0) pairs
        else {
          val batch = docsDf.filter(SoakRing.batchPred(k)).select(col("doc_id"))
          val keep = TextDedup.dedupKeepMask(SoakRing.served(s, d, k), batch)
            .select(lit(k).as("night"), lit("keep").as("stage"),
              col("doc_id").as("id"), nullId2.as("id2"),
              when(col("keep"), 1.0).otherwise(0.0).as("val"))
          pairs.unionByName(keep)
        }
      }.reduce(_ unionByName _)
        .orderBy(col("night"), col("stage"), col("id"), col("id2"))
    },
    Some {
      import TextDedup.SoakRing
      // per-night CTEs: the night's pair view, its batch, and the ONE
      // shared keep-dominator calculus instantiated on them
      // (TextDedup.keepDomCtesFor — an inline copy here was the r17
      // review's drift finding)
      val nightCtes = (1 to 4).map { k =>
        def p(c: String) = SoakRing.presentSql(k, c)
        s"""jp$k AS (SELECT doc1, doc2 FROM jp
           |         WHERE ${p("doc1")} AND ${p("doc2")}),
           |batch$k AS (SELECT doc_id FROM documents
           |            WHERE ${SoakRing.batchSql(k, "doc_id")}),
           |${TextDedup.keepDomCtesFor(s"und$k", s"dom$k", s"jp$k", s"batch$k",
               c => SoakRing.batchSql(k, c))}""".stripMargin
      }
      val nights = (0 to 4).map { k =>
        def p(c: String) = SoakRing.presentSql(k, c)
        val pairsBranch =
          s"""SELECT CAST($k AS INTEGER) AS night, 'pairs' AS stage,
             |       doc1 AS id, doc2 AS id2, jaccard AS val
             |FROM jp WHERE ${p("doc1")} AND ${p("doc2")}""".stripMargin
        if (k == 0) pairsBranch
        else
          pairsBranch + "\nUNION ALL\n" +
            s"""SELECT CAST($k AS INTEGER), 'keep', b.doc_id, CAST(NULL AS BIGINT),
               |       CASE WHEN d.doc_id IS NULL THEN 1.0 ELSE 0.0 END
               |FROM batch$k b LEFT JOIN dom$k d ON b.doc_id = d.doc_id""".stripMargin
      }
      s"""WITH jp AS (${TextDedup.JaccardPairsSql}),
         |${nightCtes.mkString(",\n")}
         |${nights.mkString("\nUNION ALL\n")}
         |ORDER BY night, stage, id, id2""".stripMargin
    })

  /** SCD2 dimension build — turn the events change log into
    * slowly-changing-dimension rows with validity intervals: per user,
    * consecutive same-status events collapse (lag filter), and each
    * surviving change opens an interval closed by the NEXT change's
    * timestamp (lead; NULL = current row). This is the warehouse
    * primitive q30's latest-wins compaction deliberately discards —
    * the full history, in the form point-in-time joins (j01's as-of
    * shape) consume as their dimension side.
    *
    * Scale: ONE hash exchange on user_id serves both window passes
    * (lag on the raw log, lead on the collapsed log — same
    * partitioning, Spark reuses the exchange and re-sorts only the
    * collapsed rows, which are strictly fewer). No self-join, no
    * global sort; the per-user history is the partition. */
  val q32 = QueryDef(
    "q32_scd2_intervals",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("status"))
        .withColumn("prev", lag(col("status"), 1).over(w))
        .filter(col("prev").isNull || col("status") =!= col("prev"))
        .withColumn("valid_to", lead(col("ts"), 1).over(w))
        .select(col("user_id"), col("event_id").as("change_id"), col("status"),
          col("ts").as("valid_from"), col("valid_to"))
        .orderBy(col("user_id"), col("valid_from"), col("change_id"))
    },
    Some("""WITH log AS (
           |  SELECT user_id, ts, event_id, event_type AS status,
           |         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           |  FROM events
           |),
           |chg AS (
           |  SELECT user_id, ts, event_id, status FROM log
           |  WHERE prev IS NULL OR status <> prev
           |)
           |SELECT user_id, event_id AS change_id, status, ts AS valid_from,
           |       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
           |FROM chg ORDER BY user_id, valid_from, change_id""".stripMargin))

  /** Column profiling — the data-quality summary every ingest gates on
    * (the SUMMARIZE / deequ shape): per column, row count, null count,
    * exact distinct count, and numeric min/max. Emitted as one row per
    * column so downstream checks are data ("WHERE n_nulls > 0"), not
    * code.
    *
    * Scale: one aggregate pass PER COLUMN over a column-PRUNED scan —
    * with columnar storage the per-column passes read disjoint bytes,
    * so total I/O equals reading each profiled column once (verified:
    * each branch's ReadSchema lists a single field). The alternative —
    * fusing the distinct counts into one pass — plans an Expand that
    * multiplies every row by the number of profiled columns before one
    * giant shuffle; the union of narrow aggregates shuffles one
    * distinct-set per column instead and parallelizes across the
    * catalog's executors. Exact distincts because the gate demands
    * exactness; the approximate tier of this operator is sk02/sk05
    * (HLL), composed the same way.
    *
    * This is the reusable, SCHEMA-DRIVEN API (q33 below is one
    * instantiation): profile any DataFrame, all columns by default or a
    * requested subset; numeric-ness is DERIVED from the input schema
    * (`NumericType`), not declared by the caller — profile whatever
    * lands in the table, which is the point of profiling a dirty load. */
  def profile(df: DataFrame, cols: Seq[String] = Seq.empty): DataFrame = {
    import org.apache.spark.sql.types.NumericType
    val byName = df.schema.fields.map(f => f.name -> f).toMap
    val targets =
      if (cols.isEmpty) df.schema.fields.map(_.name).toSeq
      else cols.map { c =>
        require(byName.contains(c),
          s"profile: no such column '$c' (have: ${byName.keys.mkString(", ")})")
        c
      }
    targets.map { c =>
      val numeric = byName(c).dataType.isInstanceOf[NumericType]
      df.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
        countDistinct(col(c)).as("n_distinct"),
        (if (numeric) min(col(c)).cast("double") else lit(null).cast("double"))
          .as("min_num"),
        (if (numeric) max(col(c)).cast("double") else lit(null).cast("double"))
          .as("max_num"))
        .select(lit(c).as("column_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_num"), col("max_num"))
    }.reduce(_ unionByName _)
      .orderBy(col("column_name"))
  }

  val q33 = QueryDef(
    "q33_profile_summary",
    (s, d) => profile(Tables.orders(s, d),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")),
    Some {
      val branches = Seq(
        ("o_orderkey", true), ("o_custkey", true), ("o_orderstatus", false),
        ("o_totalprice", true), ("o_orderdate", false), ("o_orderpriority", false))
        .map { case (c, numeric) =>
          val mn = if (numeric) s"CAST(MIN($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
          val mx = if (numeric) s"CAST(MAX($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
          s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
             |       CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
             |       COUNT(DISTINCT $c) AS n_distinct,
             |       $mn AS min_num, $mx AS max_num
             |FROM orders""".stripMargin
        }
      branches.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    })

  /** Snapshot reconciliation — the row-level diff between two table
    * versions (the audit every incremental pipeline ships alongside its
    * merge): FULL OUTER join on the key, rows classified
    * added/removed/changed/unchanged, with counts and the exact value
    * delta per class. The "next-day" snapshot is derived
    * deterministically from orders (keys % 89 deleted, % 97 price-bumped,
    * % 83 re-inserted under new ids) so both engines reconstruct the
    * identical pair of versions — a deployment feeds two real snapshot
    * dirs. Complements q26 (MERGE applies changes) and t27 (schema-level
    * drift): this one PROVES what changed at the row level.
    *
    * Scale: one hash-partitioned FULL OUTER join (the only catalog
    * entry exercising that join type) — both sides shuffle on the key
    * once; on bucketed snapshots (the r08 layout) the exchanges vanish
    * entirely. The delta sums are decimal-exact per the Exact contract
    * (operands cast to decimal BEFORE subtraction — the double
    * difference would round differently than its operands). */
  /** Library façade behind q34: row-level reconciliation of two
    * snapshots of one table — FULL OUTER join on `key`, rows classified
    * added/removed/changed/unchanged, per-class count and decimal-exact
    * value delta. `a` is the older snapshot, `b` the newer; keys must be
    * unique per snapshot (it diffs VERSIONS of rows, not multisets).
    *
    * Delta precision: a DECIMAL value column (on EITHER side — a schema
    * migration can widen just the newer snapshot) keeps the max scale
    * and max integer digits of the two sides plus up to 10 digits of sum
    * headroom — headroom shrinks first when the decimal maximum of 38
    * would otherwise cost input digits, so decimal inputs are exact
    * whenever intDigits + scale ≤ 38; past that no decimal can hold both
    * sides and the cast overflows loudly under ANSI (a documented
    * loud-overflow limit, never a silent round). Non-decimal numerics sum through DECIMAL(18,2) —
    * exact up to 16 integer digits and 2 fractional digits; a wider
    * float-borne value overflows loudly under ANSI (never silently
    * rounds the integer part), and finer-than-cent fractions round at
    * the cast. Callers with such values should diff a decimal-typed
    * column (r14 review finding; both-sides derivation r15 review).
    *
    * Scale: one hash-partitioned full-outer join — both sides shuffle on
    * the key once; bucketed snapshots (r08 layout) drop the exchanges. */
  def snapshotDiff(a: DataFrame, b: DataFrame, key: String, value: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // each side contributes its (integer digits, scale) need — a
    // non-decimal side contributes the documented float-borne bound
    // (16, 2), so pairing ONE decimal snapshot with a double snapshot
    // can neither round the double side's cents away (a coarser decimal
    // scale would) nor overflow its magnitude (a narrower precision
    // would) — the r15 second-pass finding
    val contrib = Seq(a, b).map(_.select(col(value)).schema.head.dataType).map {
      case d: DecimalType => (d.precision - d.scale, d.scale)
      case _ => (16, 2)
    }
    val scale = contrib.map(_._2).max
    val intDigits = contrib.map(_._1).max
    // headroom yields FIRST (r15 ADVICE): a wide-integer side (e.g.
    // DECIMAL(38,0)) paired with a higher-scale side must keep every
    // integer digit both inputs can carry — the sum headroom shrinks
    // from 10 toward 0 before any input digit is sacrificed. Only when
    // intDigits + scale alone exceed 38 (inputs no decimal can hold
    // side by side) does the cap bite input digits, and then the ANSI
    // cast overflows LOUDLY — never a silent round.
    val headroom = math.max(0, math.min(10, 38 - intDigits - scale))
    val dec = DecimalType(math.min(38, intDigits + scale + headroom), scale)
    // presence markers, not value-null tests: a NULLABLE value column
    // must not flip a both-sides row into added/removed, and a
    // null-vs-value transition is a CHANGE (null-safe <=>); the q34
    // fixture is null-free so its oracle's IS NULL formulation stays
    // equivalent there
    a.select(col(key).as("k"), col(value).as("va"), lit(true).as("ina"))
      .join(b.select(col(key).as("k"), col(value).as("vb"), lit(true).as("inb")),
        Seq("k"), "full_outer")
      .withColumn("status",
        when(col("ina").isNull, "added")
          .when(col("inb").isNull, "removed")
          .when(!(col("va") <=> col("vb")), "changed")
          .otherwise("unchanged"))
      .groupBy(col("status"))
      // cast each side to the decimal BEFORE coalescing: coalesce with a
      // double literal widens decimal+double to DOUBLE, so a wide
      // decimal would silently round through the double before the cast
      // back (r15 second-pass finding — the 'exact by construction'
      // claim held only for double-representable values)
      .agg(count(lit(1)).as("n"),
        sum(coalesce(col("vb").cast(dec), lit(0).cast(dec)) -
          coalesce(col("va").cast(dec), lit(0).cast(dec)))
          .cast("double").as("delta"))
      .orderBy(col("status"))
  }

  val q34 = QueryDef(
    "q34_snapshot_diff",
    (s, d) => {
      val base = Tables.orders(s, d)
      val b = base.filter(pmod(col("o_orderkey"), lit(89)) =!= 0)
        .select(col("o_orderkey"),
          when(pmod(col("o_orderkey"), lit(97)) === 0, col("o_totalprice") + 100.0)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
        .unionByName(base.filter(pmod(col("o_orderkey"), lit(83)) === 0)
          .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
            col("o_totalprice")))
      snapshotDiff(base, b, "o_orderkey", "o_totalprice")
    },
    Some("""WITH a AS (SELECT o_orderkey AS k, o_totalprice AS va FROM orders),
           |b AS (
           |  SELECT o_orderkey AS k,
           |         CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 100.0
           |              ELSE o_totalprice END AS vb
           |  FROM orders WHERE o_orderkey % 89 <> 0
           |  UNION ALL
           |  SELECT o_orderkey + 1000000000 AS k, o_totalprice AS vb
           |  FROM orders WHERE o_orderkey % 83 = 0
           |)
           |SELECT CASE WHEN va IS NULL THEN 'added'
           |            WHEN vb IS NULL THEN 'removed'
           |            WHEN va <> vb THEN 'changed'
           |            ELSE 'unchanged' END AS status,
           |       COUNT(*) AS n,
           |       CAST(SUM(CAST(COALESCE(vb, 0) AS DECIMAL(18,2)) -
           |                CAST(COALESCE(va, 0) AS DECIMAL(18,2))) AS DOUBLE) AS delta
           |FROM a FULL OUTER JOIN b USING (k)
           |GROUP BY 1 ORDER BY status""".stripMargin))

  val catalog: Seq[QueryDef] =
    Seq(e01, e02, e03, e04, e05, e06, e07, e08, q16, q17, t09, c01, c02, c03,
      c04, c05, c06, c07, c08, tj01, tj02, tj03, v01, v02, v03, v04, v05, v06, v07, j01, q18, t10, q19, q20, q21,
      q24, q25, q32, q33, q34)
}
