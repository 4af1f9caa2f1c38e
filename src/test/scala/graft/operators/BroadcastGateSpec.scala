package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec

/** Pins [[IndexStore.broadcastIfFits]] — the measured-bytes broadcast
  * gate shared by t32's matchable set and t06's hot/matchable sides.
  * The contract under test: the decision follows the MEASURED payload
  * vs the session's `autoBroadcastJoinThreshold` (not row counts, not
  * Catalyst's compressed-file stats), and the oversized fallback
  * ACTIVELY suppresses a planner broadcast (the starved-heap failure
  * mode: stats said broadcastable, the in-memory hash relation was
  * not). */
class BroadcastGateSpec extends SparkSpec {

  /** Full traversal including AQE wrappers: QueryStageExec nodes are
    * LEAVES whose real subtree hangs off `plan` (the BucketedJoinSpec
    * walker), so the finalized stages are actually visible. */
  private def collectPlans(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: kids.flatMap(collectPlans)
  }

  private def joinPlan(threshold: String, payloadChars: Int) = {
    import spark.implicits._
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      val small = (1 to 50).map(i => ("k" * payloadChars) + i).toDF("shingle")
      val gated = IndexStore.broadcastIfFits(spark, small,
        octet_length(col("shingle")))(_.hint("SHUFFLE_HASH"))
      val big = (1 to 1000).map(i => ("k" * payloadChars) + (i % 60)).toDF("shingle")
      val joined = big.join(gated, Seq("shingle"), "left_semi")
      // collect() executes THIS Dataset's QueryExecution (count() would
      // build a different one), so the walked executedPlan below is the
      // finalized adaptive plan that actually ran
      joined.collect()
      collectPlans(joined.queryExecution.executedPlan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("fits under the threshold: broadcast") {
    val plans = joinPlan("1MB", payloadChars = 10)
    assert(plans.exists(_.isInstanceOf[BroadcastExchangeLike]),
      s"expected a broadcast exchange in:\n${plans.map(_.nodeName).mkString("\n")}")
  }

  test("over the threshold by BYTES (few rows, fat strings): shuffled, never broadcast") {
    // 50 rows x 40KB strings = ~2MB payload against a 1KB threshold —
    // a row-count gate would broadcast this; the byte gate must not,
    // and the SHUFFLE_HASH fallback must also keep the PLANNER from
    // broadcasting it off its own stats.
    val plans = joinPlan("1KB", payloadChars = 40000)
    assert(!plans.exists(_.isInstanceOf[BroadcastExchangeLike]),
      s"broadcast leaked past the gate in:\n${plans.map(_.nodeName).mkString("\n")}")
    assert(plans.exists(_.isInstanceOf[ShuffledHashJoinExec]),
      "fallback should plan the shuffled hash join")
  }

  test("threshold -1 disables broadcast outright") {
    val plans = joinPlan("-1", payloadChars = 10)
    assert(!plans.exists(_.isInstanceOf[BroadcastExchangeLike]))
  }

  test("verify join tiers by measured bytes: broadcast, then SHUFFLE_HASH, then MERGE") {
    // the gate on verifyJaccardOf's sets sides, tiered by the corpus's
    // MEASURED bytes (never planner stats — stacked selectivity
    // estimates broadcast corpus-sized text-payload sides): explicit
    // broadcast below the session cap (measured faster than an
    // unconditional SHUFFLE_HASH); SHUFFLE_HASH while the
    // per-partition build provably fits (Spark's cap × partitions
    // calculus AND a task-share bound — SHJ builds cannot spill, a
    // 2 GB heap measured the failure); sort-merge past that, the only
    // unconditionally spill-safe shape. Threshold manipulated over ONE
    // corpus, so each flip is PROVABLY the gate, not data size.
    val sf = "/root/testdata/sf0.001"
    def verifyPlans(threshold: String): Seq[SparkPlan] = {
      val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        val cand = graft.Tables.documents(spark, sf).limit(20)
          .select((col("doc_id")).as("doc1"), (col("doc_id") + 1).as("doc2"))
        val df = TextDedup.verifyJaccard(spark, sf, cand)
        df.collect()
        collectPlans(df.queryExecution.executedPlan)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    }
    // sf0.001 sets estimate ≈ 65 KB parquet × 4 ≈ 260 KB. The mid cap
    // must sit with HEADROOM on both sides (cap < est AND
    // est ≤ cap × parts): 128 KB gives ~2× margin each way, where the
    // first attempt's 64 KB passed the upper bound by 84 bytes and any
    // fixture regeneration would flip the test (r16 review).
    val bigCap = verifyPlans("64MB") // est ≤ cap: broadcast
    assert(bigCap.exists(_.isInstanceOf[BroadcastExchangeLike]),
      "under the cap the sets sides should broadcast")
    val midCap = verifyPlans("128KB") // cap < est ≤ cap × parts, build fits
    assert(midCap.exists(_.isInstanceOf[ShuffledHashJoinExec]),
      "mid tier should pin SHUFFLE_HASH")
    assert(!midCap.exists(_.isInstanceOf[BroadcastExchangeLike]),
      "a broadcast leaked past the verify-join size gate")
    val smallCap = verifyPlans("1KB") // est > cap × parts: no safe build
    assert(smallCap.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "past the SHJ bound the sets sides must sort-merge")
    assert(!smallCap.exists(p => p.isInstanceOf[BroadcastExchangeLike] ||
      p.isInstanceOf[ShuffledHashJoinExec]),
      "an unspillable join leaked past the MERGE tier")
    graft.Lifecycle.release(spark)
  }

  test("empty set broadcasts (estimate 0)") {
    import spark.implicits._
    val empty = Seq.empty[String].toDF("shingle")
    val gated = IndexStore.broadcastIfFits(spark, empty,
      octet_length(col("shingle")))(_.hint("SHUFFLE_HASH"))
    // decision only — an empty broadcast is trivially safe
    val big = (1 to 10).map(_.toString).toDF("shingle")
    val joined = big.join(gated, Seq("shingle"), "left_semi")
    assert(joined.count() == 0)
  }
}
