package graft.tabjolt

import java.nio.file.{Files, Paths}
import org.scalatest.Assertions.fail

/** Guard for the specs that read the reference repo's shipped sample
  * files. Those bytes are the fixture and cannot be regenerated, so a
  * missing file must FAIL the spec — with a message naming the file and
  * its directory, not a bare `NoSuchFileException` from deep inside an
  * ingest. */
object ReferenceSamples {

  val files: Seq[String] =
    Seq("summary_line.csv", "wincounter.tsv", "modified_workbook.csv", "rejected.txt")

  /** Fail the calling test unless every sample file exists under `dir`. */
  def require(dir: String): Unit = {
    val missing = files.map(f => Paths.get(dir, f)).filterNot(Files.isRegularFile(_))
    if (missing.nonEmpty) {
      val why =
        if (!Files.isDirectory(Paths.get(dir))) s"$dir is absent from this checkout"
        else s"$dir is incomplete"
      fail(s"missing reference sample file(s) ${missing.mkString(", ")}: $why. " +
        "These specs pin the reference repo's own shipped bytes, which cannot " +
        "be regenerated; restore the directory to run them.")
    }
  }
}
