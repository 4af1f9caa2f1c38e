package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Depth runs on generated corpora larger than the sf0.1 tables, one
  * section per argument (no arguments = every section):
  *
  *  - `growth`: K x replicated documents; exact inverted-index Jaccard
  *    (t06) against MinHash+LSH (t07), span dedup, CC and boilerplate as
  *    N grows. The exact all-pairs structure grows super-linearly (every
  *    shared shingle contributes a pair row), while LSH candidate
  *    generation stays ~linear — the reason t07 is the 100 TB path;
  *  - `ring`: c04's nightly maintenance, stage by stage, at 125k docs;
  *  - `soak`: c08's N-night cost curve at 125k docs;
  *  - `ccskew`: CC over a giant chained component (deep diameter);
  *  - `stskew`: st04/st09's stream-stream join under a hot user.
  *
  * The session runs on `local[SPARK_GRAFT_CPUS]` (default 4) with as many
  * shuffle partitions. Results are recorded in PLANS.md. */
object ScaleSmoke {

  def main(args: Array[String]): Unit = {
    // `ring` and `soak` share one 25x corpus, written on first use
    val want: String => Boolean =
      if (args.isEmpty) _ => true else args.toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.Sessions.graftDefaults(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    /** The ONE timing body every section's local `time` delegates to:
      * stop the clock, then sweep per-query residue (cache/checkpoint
      * blocks) so it cannot pollute the next measurement. Centralized so
      * a protocol change cannot silently skew one section. */
    def timeReleasing[T](f: => T): (Double, T) = {
      val t0 = System.nanoTime(); val v = f
      val dt = (System.nanoTime() - t0) / 1e9
      graft.Lifecycle.release(spark)
      (dt, v)
    }

    val base = graft.Tables.documents(spark, "/root/testdata/sf0.1")
    // lazy: sections that never print a docs count (e.g. `stskew`) must
    // not pay a full documents scan at startup
    lazy val n0 = base.count()

    /** K doc replicas (distinct-but-similar: replica id appended to the
      * text) at /tmp/graft_scale_{k}x. The ONE builder for this corpus
      * shape — growth rewrites unconditionally, the reusing sections go
      * through [[ensureDocsReplicas]]; a second inline copy would let
      * the two drift and desynchronize the shared /tmp corpora. */
    def writeDocsReplicas(k: Int): String = {
      val dir = s"/tmp/graft_scale_${k}x"
      val copies = (0 until k).map { i =>
        if (i == 0) base
        else base.select(
          (col("doc_id") + lit(i.toLong * 1000000L)).as("doc_id"),
          concat(col("text"), lit(s" replica$i")).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }
      copies.reduce(_ unionAll _).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      dir
    }

    /** `ring` and `soak` measure the deployment shape, where the band
      * signatures come from the persisted BandIndex: the size gate
      * (`TextDedup.corpusBands`) picks that arm only above
      * `BandsPersistBytes`, so fail loudly on a corpus below it. */
    def requirePersistedBands(dir: String): Unit = {
      val bytes = graft.operators.IndexStore.corpusBytes(dir, "documents")
      require(bytes > graft.operators.TextDedup.BandsPersistBytes,
        s"$dir/documents.parquet is $bytes bytes, not above " +
          s"BandsPersistBytes (${graft.operators.TextDedup.BandsPersistBytes}): " +
          "the size gate would recompute bands inline")
    }

    /** [[writeDocsReplicas]] only if absent, so sections can run
      * standalone without repeating growth's writes. */
    def ensureDocsReplicas(k: Int): String = {
      val dir = s"/tmp/graft_scale_${k}x"
      if (!new java.io.File(s"$dir/documents.parquet").isDirectory)
        writeDocsReplicas(k)
      dir
    }

    if (want("growth")) Seq(1, 4, 12).foreach { k =>
      // growth owns the corpora: rewrite unconditionally so this run's
      // timings are against freshly-written files
      val dir = writeDocsReplicas(k)
      // warm the file cache / JIT on first use
      graft.operators.TextDedup.t05.fn(spark, dir).count()
      def time(f: => Long): (Double, Long) = timeReleasing(f)
      val (tExact, nExact) = time(graft.operators.TextDedup.t06.fn(spark, dir).count())
      val (tLsh, nLsh) = time(graft.operators.TextDedup.t07.fn(spark, dir).count())
      println(f"SCALE docs=${n0 * k}%7d exact=${tExact}%6.1fs ($nExact pairs)  lsh=${tLsh}%6.1fs ($nLsh pairs)")
      // verbatim-span detection (t32 core) with the df-cap scaled by the
      // replication factor — replicas push every shingle's doc frequency
      // up by k, and the measurement target is the banded join's growth,
      // not the (fixed-cap) boilerplate classifier's
      val (tSpan, nSpan) = time(
        graft.operators.TextDedup.spanDedup(spark, dir,
          graft.operators.TextDedup.SpanMinTokens,
          graft.operators.TextDedup.SpanMaxDf * k).count())
      println(f"SCALE docs=${n0 * k}%7d span=${tSpan}%6.1fs ($nSpan spans)")
      // downstream consumers of the near-dup graph / shingle index:
      // CC clustering (t11, LSH edges) and the boilerplate window (t20)
      val (tCc, nCc) = time(graft.operators.Corpus.t11.fn(spark, dir).count())
      val ccRounds = graft.operators.Corpus.lastRounds
      val (tBp, nBp) = time(graft.operators.TextDedup.t20.fn(spark, dir).count())
      // ccRounds decides the large-star/small-star question: the
      // alternating variant halves ROUNDS at one extra shuffle per
      // round, so it only pays when the measured diameter is deep
      println(f"SCALE docs=${n0 * k}%7d cc=${tCc}%6.1fs ($nCc docs, $ccRounds rounds)  boilerplate=${tBp}%6.1fs ($nBp docs)")
    }

    // ---- nightly-maintenance ring at depth (r14 slate #1) ----
    // c04's composition, timed stage by stage at the 125k-doc decade:
    // the one-time costs (signature index, resident pair index) vs the
    // NIGHTLY costs (delta append + probe over the grown index) vs the
    // non-incremental counterfactual (full pair-index rebuild). The c04
    // gate proves the composition CORRECT (resident ∪ delta == full
    // rebuild, hash-checked against DuckDB); this measures why a
    // deployment runs it: the nightly path must cost ∝ the slice.
    if (want("ring")) {
      def time[T](f: => T): (Double, T) = timeReleasing(f)
      import graft.operators.TextDedup
      val k = 25
      val dir = ensureDocsReplicas(k)
      // delete ALL three artifacts, BandIndex included: a sig-section
      // (or prior-run) publication would make tSig time a warm no-op
      // read and understate the once-per-snapshot cost column
      Seq(TextDedup.PairIndex.indexDirFor(dir),
          TextDedup.ResidentPairIndex.indexDirFor(dir),
          TextDedup.BandIndex.indexDirFor(dir))
        .foreach(p => graft.Lifecycle.deleteRecursively(new java.io.File(p)))
      requirePersistedBands(dir)
      val (tSig, _) = time(TextDedup.BandIndex.ensure(spark, dir).count())
      val (tFull, nFull) = time(TextDedup.PairIndex.ensure(spark, dir).count())
      val (tRes, nRes) = time(TextDedup.ResidentPairIndex.ensure(spark, dir).count())
      // the nightly append: delta written as a segment (what a
      // deployment adds to the published index), then the probe reads
      // the grown (resident ∪ delta) view
      val deltaOut = s"/tmp/graft_ring_delta_${k}x"
      val (tDelta, _) = time(TextDedup.pairDelta(spark, dir)
        .write.mode("overwrite").parquet(deltaOut))
      val nDelta = spark.read.parquet(deltaOut).count()
      val grown = TextDedup.ResidentPairIndex.ensure(spark, dir)
        .unionByName(spark.read.parquet(deltaOut))
      val (tProbe, nProbe) = time(TextDedup.probeKeep(spark, dir, grown).count())
      println(f"RING docs=${n0 * k}%7d onceOnly: sig=${tSig}%5.1fs " +
        f"resident=${tRes}%5.1fs ($nRes pairs) | " +
        f"nightly: delta=${tDelta}%5.1fs ($nDelta pairs) probe=${tProbe}%5.1fs " +
        f"($nProbe batch docs) | counterfactual fullRebuild=${tFull}%5.1fs ($nFull pairs)")
      assert(nRes + nDelta == nFull,
        s"append invariant broken at depth: $nRes + $nDelta != $nFull")
    }

    // ---- soak-ring N-night cost curve (r16 VERDICT slate #1) ----
    // c08's claim: per-night cost after night 0 is ∝ the slice (band
    // probe) or the pair set (fold/retract), never ∝ the corpus. Time
    // each night's MARGINAL cost cold (prior nights' publications warm,
    // the nightly-cron shape) at the 125k-doc replica depth.
    if (want("soak")) {
      import graft.operators.TextDedup.SoakRing
      val dir = ensureDocsReplicas(25)
      requirePersistedBands(dir)
      graft.operators.TextDedup.BandIndex.ensure(spark, dir) // warm, untimed
      graft.Lifecycle.release(spark)
      SoakRing.wipe(dir)
      val curve = (0 to 4).map { k =>
        val (t, n) = timeReleasing(SoakRing.served(spark, dir, k).count())
        f"n$k=${t}%6.1fs($n)"
      }
      println(s"SOAK docs=125k nights: ${curve.mkString(" ")} " +
        s"foldDue=${SoakRing.foldDue(dir)}")
    }

    // ---- giant-dup-cluster adversary (r16 VERDICT slate #3) ----
    // Half the corpus in ONE connected component, shaped as a chained
    // clique-of-cliques: 20-doc groups of IDENTICAL docs (cliques),
    // consecutive groups overlapping at Jaccard ≈ 0.667 (chain links) —
    // 62.5k docs, ~1.8M pairs, diameter ~3.1k hops. Plain hash-min
    // label propagation would iterate ∝ diameter (it aborted at a
    // 40-round cap, PLANS.md r17); the pointer-jump shortcut converges
    // ∝ log diameter. Also times the keep-mask dominator calculus over
    // the giant component's pair neighborhood, the other consumer of a
    // giant component. The other half of the corpus is pair-free
    // singletons, so the component genuinely holds 50% of docs.
    if (want("ccskew")) {
      import graft.operators.{Corpus, TextDedup}
      val dir = "/tmp/graft_scale_ccskew"
      val half = 62500L
      if (!new java.io.File(s"$dir/documents.parquet").isDirectory) {
        val docs = spark.range(0, 2 * half).select(
          col("id").as("doc_id"),
          when(col("id") < half,
            // group g = id/20 shares one 30-token window; stride 6
            // between groups → adjacent groups overlap on 24 of the
            // 30 tokens, union 36 → Jaccard 24/36 ≈ 0.667
            expr("array_join(transform(sequence(0, 29), " +
              "j -> concat('c', (id div 20) * 6 + j)), ' ')"))
            .otherwise(
              expr("array_join(transform(sequence(0, 9), " +
                "j -> concat('u', id, 'x', j)), ' ')"))
            .as("text"),
          lit("en").as("lang"), lit("synthetic").as("source"))
        docs.withColumn("n_chars", length(col("text")).cast("long"))
          .repartition(32)
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      }
      // the pair artifact is the precondition CC reads — build and time
      // it once, outside the CC timing (the nightly split)
      val (tPairs, nPairs) = timeReleasing(
        TextDedup.PairIndex.ensure(spark, dir).count())
      def und() = {
        val p = TextDedup.PairIndex.ensure(spark, dir)
          .select(col("doc1"), col("doc2"))
        p.select(col("doc1").as("src"), col("doc2").as("dst"))
          .unionByName(p.select(col("doc2").as("src"), col("doc1").as("dst")))
      }
      def shuffled(f: => Long): (Double, Long, Long) = {
        val bytes = new java.util.concurrent.atomic.AtomicLong
        val l = new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            if (e.taskMetrics != null)
              bytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
        spark.sparkContext.addSparkListener(l)
        try {
          val (t, n) = timeReleasing(f)
          // deterministic drain barrier, not a sleep: on large jobs the
          // async bus can still be delivering task-end events past any
          // fixed wait
          org.apache.spark.GraftListenerBus.drain(spark.sparkContext, 30000L)
          (t, n, bytes.get())
        }
        finally spark.sparkContext.removeSparkListener(l)
      }
      val (tCc, nCc, shCc) = shuffled(Corpus.connectedComponents(und()).count())
      val roundsShort = Corpus.lastRounds
      val batch = graft.Tables.documents(spark, dir)
        .filter(col("doc_id") % 10 === 7).select(col("doc_id"))
      val (tKeep, nKeep) = timeReleasing(
        TextDedup.dedupKeepMask(TextDedup.PairIndex.ensure(spark, dir), batch)
          .filter(col("keep")).count())
      println(f"CCSKEW docs=${2 * half} pairs=$nPairs (build ${tPairs}%6.1fs) " +
        f"shortcutCC=${tCc}%6.1fs rounds=$roundsShort ($nCc labeled, " +
        f"shuffle=${shCc / 1048576}MB) " +
        f"keepMask=${tKeep}%6.1fs ($nKeep kept)")
    }

    // ---- stream-stream join hot-key adversary (r17 VERDICT slate #6) ----
    // st04's join has no skew bracket (the batch side has ccskew and
    // salting evidence). Plant ONE user holding 25% of all events and
    // drain the same viewClickJoin plan st04 ships, recording state-store
    // rows, per-batch wall, and output size vs the un-skewed corpus of
    // identical volume. The join hash-partitions on user, so the hot
    // key's matching work lands on one task — this measures how bad that
    // actually is at depth (state is watermark-bounded either way).
    if (want("stskew")) {
      import org.apache.spark.sql.streaming.OutputMode
      import graft.streaming.{Drain, EventsStream}
      val k = 4
      def eventsVariant(tag: String, hot: Boolean): String = {
        val dir = s"/tmp/graft_scale_stskew_$tag"
        if (!new java.io.File(s"$dir/events.parquet").isDirectory) {
          val ev0 = graft.Tables.events(spark, "/root/testdata/sf0.1")
          val reps = (0 until k).map { i =>
            if (i == 0) ev0
            else ev0.withColumn("event_id", col("event_id") + lit(i.toLong * 100000000L))
          }.reduce(_ unionAll _)
          val skewed =
            if (hot) reps.withColumn("user_id",
              when(col("event_id") % 4 === 0, lit(424242L)).otherwise(col("user_id")))
            else reps
          skewed.withColumn("ts", expr("unix_micros(ts) * 1000"))
            .write.mode("overwrite").parquet(s"$dir/events.parquet")
        }
        dir
      }
      // third arm: the SAME hot corpus through the sub-keyed plan (st09) —
      // the remedy this adversary motivated; flat/hot stay on st04's plan
      Seq(("flat", false, false), ("hot", true, false), ("hotsub", true, true))
          .foreach { case (tag, hot, subkeyed) =>
        val dir = eventsVariant(if (hot) "hot" else "flat", hot)
        val t0 = System.nanoTime()
        val (q, t) = Drain.toTable(spark, s"graft_stskew_$tag", OutputMode.Append) { s2 =>
          // EventsStream.source globs for a single events.parquet FILE
          // (the testdata layout); this fixture is a written DIRECTORY —
          // stream it directly with the on-disk schema (ts int64 nanos,
          // normalized the same way source() does)
          val onDisk = s2.read.parquet(s"$dir/events.parquet").schema
          val ev = s2.readStream.schema(onDisk).parquet(s"$dir/events.parquet")
            .withColumn("ts", timestamp_micros(expr("ts div 1000")))
          val join: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame =
            if (subkeyed) EventsStream.viewClickJoinSubkeyed(_, _)
            else EventsStream.viewClickJoin(_, _)
          join(
            ev.filter(col("event_type") === "view"),
            ev.filter(col("event_type") === "click"))
        }
        val n = t.count()
        val wall = (System.nanoTime() - t0) / 1e9
        val stateRows = q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal))
          .foldLeft(0L)(math.max)
        val maxBatchMs = q.recentProgress
          .map(_.durationMs.getOrDefault("triggerExecution", 0L).toLong)
          .foldLeft(0L)(math.max)
        graft.Lifecycle.release(spark)
        println(f"ST-SKEW $tag%4s events=${k}x-sf0.1 joined=$n wall=${wall}%6.1fs " +
          f"maxStateRows=$stateRows maxBatchMs=$maxBatchMs")
      }
    }
    spark.stop()
  }
}
