package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev-only: dump the formatted physical plan of catalog queries.
  *
  * One name: print to stdout (the original audit loop). With
  * `GRAFT_PLANS_OUT=<dir>`, write `<dir>/<name>_before.txt` (the legacy
  * core-count kernel width, reproduced exactly via
  * `spark.graft.kernel.bytesPerTask=1` — the only r22 fan-out change is
  * that width) and `<dir>/<name>_after.txt` (the byte-derived default)
  * for every name given. The session runs on `local[SPARK_GRAFT_CPUS]`
  * (default 4) with as many shuffle partitions. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.Sessions.graftDefaults(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else Seq("t06_jaccard_pairs")
    val outDir = sys.env.get("GRAFT_PLANS_OUT")

    def formatted(name: String): String = {
      val df = graft.SparkEntry.queries(name)(spark, d)
      val s = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      graft.Lifecycle.release(spark)
      s
    }

    outDir match {
      case None =>
        names.foreach(n => println(formatted(n)))
      case Some(dir) =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        names.foreach { n =>
          // restored in `finally`: a dump that throws must not leave
          // later names' _after dumps at the legacy width
          spark.conf.set("spark.graft.kernel.bytesPerTask", "1")
          try java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$dir/${n}_before.txt"), formatted(n))
          finally spark.conf.unset("spark.graft.kernel.bytesPerTask")
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$dir/${n}_after.txt"), formatted(n))
          println(s"dumped $n")
        }
    }
    spark.stop()
  }
}
