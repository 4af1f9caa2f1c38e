package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions.lit

/** The publication/staleness contract shared by every persisted index
  * (IVF centroids, LSH signatures, near-dup pairs). Rebuild-on-corpus-
  * regeneration is pinned per index in OperatorsSpec; this spec pins
  * the store machinery itself: reuse, torn-build recovery, the
  * racing-builder convergence path, and the pinned-schema read. */
class IndexStoreSpec extends SparkSpec {

  private def write(f: java.io.File, s: String): Unit = {
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, s.getBytes("UTF-8")); ()
  }

  private def leftovers(parent: java.io.File): Seq[String] =
    parent.listFiles().map(_.getName).filter(_.contains(".build-")).toSeq

  test("complete index is reused; torn leftover (no marker) is rebuilt in place") {
    val parent = java.nio.file.Files.createTempDirectory("idxstore").toFile
    val dir = new java.io.File(parent, "index1")
    var builds = 0
    def build(tmp: String): Unit = {
      builds += 1
      write(new java.io.File(tmp, "data/_SUCCESS"), s"build$builds")
    }
    IndexStore.ensure(dir.getAbsolutePath, "data/_SUCCESS")(build)
    assert(builds == 1 && new java.io.File(dir, "data/_SUCCESS").exists())
    IndexStore.ensure(dir.getAbsolutePath, "data/_SUCCESS")(build)
    assert(builds == 1, "a complete index must be served without rebuilding")
    // tear it: the dir exists but the completeness marker is gone (the
    // crashed-pre-rename-leftover shape) — ensure() must replace it
    assert(new java.io.File(dir, "data/_SUCCESS").delete())
    IndexStore.ensure(dir.getAbsolutePath, "data/_SUCCESS")(build)
    assert(builds == 2 && new java.io.File(dir, "data/_SUCCESS").exists())
    assert(leftovers(parent).isEmpty, "build scratch dirs must not leak")
  }

  test("racing builders converge on the first published index") {
    val parent = java.nio.file.Files.createTempDirectory("idxstore").toFile
    val dir = new java.io.File(parent, "index2")
    IndexStore.ensure(dir.getAbsolutePath, "data/_SUCCESS") { tmp =>
      // a competitor publishes a COMPLETE index while our build runs:
      // our rename must fail, their index must be kept, ours discarded
      write(new java.io.File(dir, "data/_SUCCESS"), "competitor")
      write(new java.io.File(tmp, "data/_SUCCESS"), "ours")
    }
    val kept = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "data/_SUCCESS").toPath), "UTF-8")
    assert(kept == "competitor", "the losing builder must not clobber the winner")
    assert(leftovers(parent).isEmpty, "the losing build copy must be discarded")
  }

  test("readPublished pins a dir's schema until the dir is deleted") {
    import IndexStore.PublishSyntax
    val dir = new java.io.File(
      java.nio.file.Files.createTempDirectory("idxstore").toFile, "pub").getAbsolutePath
    val rows = s"$dir/rows"
    def publish(df: org.apache.spark.sql.DataFrame): Unit = {
      IndexStore.ensure(dir, "rows/_SUCCESS")(tmp => df.publishTo(s"$tmp/rows")); ()
    }
    def columns: Seq[String] = IndexStore.readPublished(spark, rows).columns.toSeq
    publish(spark.range(3).toDF("id"))
    assert(columns == Seq("id"))
    // the pin is live: rewriting the files in place behind the store's
    // back (a publish-once violation) keeps serving the pinned schema
    spark.range(3).toDF("id").withColumn("extra", lit(1))
      .write.mode("overwrite").parquet(rows)
    assert(columns == Seq("id"), "readPublished re-inferred instead of pinning")
    // a delete through Lifecycle drops the pin, so the republished
    // layout is read with its own schema
    graft.Lifecycle.deleteRecursively(new java.io.File(dir))
    publish(spark.range(3).toDF("id").withColumn("extra", lit(7)))
    assert(columns == Seq("id", "extra"))
    assert(IndexStore.readPublished(spark, rows).select("extra").distinct()
      .collect().map(_.getInt(0)).toSeq == Seq(7))
  }
}
