package graft.tabjolt

import java.nio.file.{Files, Path => JPath}
import java.time.LocalDate
import graft.SparkSpec

/** SURVEY §2 S1 end-to-end, executed in-sandbox: the reference's
  * download-then-load flow (tabjolt_email.py:17-31, 351-375) driven
  * against an in-JVM OBJECT STORE ([[MockObjectStoreFileSystem]],
  * `mockfs://`) holding the reference repo's ACTUAL sample bytes.
  *
  * The scheme binds through the identical `fs.<scheme>.impl` conf lookup
  * that binds `s3a://` → S3AFileSystem on a deployment classpath —
  * nothing in Fetch/Ingest/Pipeline inspects the scheme — so this
  * exercises every engine-side instruction of the S1 path; only the
  * wire protocol behind the FileSystem API is substituted (hadoop-aws is
  * absent in this zero-egress container). Both deployment shapes run:
  *
  *  1. fetch-to-local then ingest (the reference's literal flow);
  *  2. Spark reading `mockfs://` URIs DIRECTLY (the scale path the
  *     Pipeline Scaladoc prescribes — no driver-serialized download).
  */
class ObjectStoreFetchSpec extends SparkSpec {

  private val ref = "/root/reference"
  private val bucket = "tabjolt-bucket"
  private val runDate = LocalDate.of(2024, 7, 30)
  private val refFiles = ReferenceSamples.files

  private def stage(): Unit = {
    ReferenceSamples.require(ref)
    spark.sparkContext.hadoopConfiguration
      .set("fs.mockfs.impl", classOf[MockObjectStoreFileSystem].getName)
    refFiles.foreach { f =>
      MockObjectStore.put(bucket, s"incoming/$f",
        Files.readAllBytes(JPath.of(ref, f)))
    }
  }

  private def assertGolden(tables: Pipeline.TabjoltTables,
      rejectedPath: String): Unit = {
    assert(tables.summaryLine.count() == 4)
    assert(tables.winCounter.count() == 96)
    assert(tables.performanceSamples.count() == 7)
    assert(tables.threadDetails.count() == 345)
    assert(spark.read.text(rejectedPath).count() == 675)
    // one golden query value through the fetched bytes
    assert(Queries.dailyMetric(tables.summaryLine, runDate, "Avg")
      .collect().map(_.getString(0)).toSeq == Seq("12661"))
  }

  test("download-then-load: Fetch pulls the bucket, ingest matches golden") {
    stage()
    val dest = Files.createTempDirectory("graft-fetch-e2e")
    val results = Fetch.fetchAll(spark,
      refFiles.map(f => (s"mockfs://$bucket/incoming/$f", s"$dest/$f")))
    assert(results.forall(_.ok), results.filterNot(_.ok).mkString(", "))
    refFiles.foreach { f =>
      assert(Files.readAllBytes(JPath.of(s"$dest/$f")).toSeq ==
        Files.readAllBytes(JPath.of(ref, f)).toSeq,
        s"fetched bytes differ for $f")
    }
    val cfg = PipelineConfig(
      summaryLinePath = s"$dest/summary_line.csv",
      winCounterPath = s"$dest/wincounter.tsv",
      performanceSamplesPath = s"$dest/modified_workbook.csv",
      threadDetailsPath = s"$dest/rejected.txt",
      rejectedPath = s"$dest/rejected-sink")
    val tables = Pipeline.ingest(spark, cfg)
    try assertGolden(tables, cfg.rejectedPath)
    finally tables.cleanup()
  }

  test("fetch logs-and-continues on a missing object, like the reference") {
    stage()
    val dest = Files.createTempDirectory("graft-fetch-miss")
    val results = Fetch.fetchAll(spark, Seq(
      (s"mockfs://$bucket/incoming/summary_line.csv", s"$dest/ok.csv"),
      (s"mockfs://$bucket/incoming/not-there.csv", s"$dest/missing.csv")))
    assert(results.map(_.ok) == Seq(true, false))
    assert(results(1).error.exists(_.contains("not-there")))
    assert(Files.exists(JPath.of(s"$dest/ok.csv")))
  }

  test("direct read: Spark ingests mockfs:// URIs with no download step") {
    stage()
    val scratch = Files.createTempDirectory("graft-direct-read")
    val cfg = PipelineConfig(
      summaryLinePath = s"mockfs://$bucket/incoming/summary_line.csv",
      winCounterPath = s"mockfs://$bucket/incoming/wincounter.tsv",
      performanceSamplesPath = s"mockfs://$bucket/incoming/modified_workbook.csv",
      threadDetailsPath = s"mockfs://$bucket/incoming/rejected.txt",
      rejectedPath = s"$scratch/rejected-sink")
    val tables = Pipeline.ingest(spark, cfg)
    try assertGolden(tables, cfg.rejectedPath)
    finally tables.cleanup()
  }

  test("object-store writes publish at close and list by prefix") {
    stage()
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(s"mockfs://$bucket/out/part-0.txt")
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    out.write("hello".getBytes)
    assert(MockObjectStore.objects.get((bucket, "out/part-0.txt")).isEmpty,
      "object visible before close — violates object-store semantics")
    out.close()
    assert(new String(MockObjectStore.objects((bucket, "out/part-0.txt"))) == "hello")
    val listed = fs.listStatus(new org.apache.hadoop.fs.Path(s"mockfs://$bucket/incoming"))
    assert(listed.map(_.getPath.getName).sorted.toSeq == refFiles.sorted)
    // emulated directory status: a prefix with objects under it is a dir
    assert(fs.getFileStatus(new org.apache.hadoop.fs.Path(s"mockfs://$bucket/incoming")).isDirectory)
  }
}
