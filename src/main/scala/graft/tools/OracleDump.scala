package graft.tools

/** Dump oracle_sql.json for an sfDir without running the catalog — the
  * same-window pairing helper: run graft.Bench, dump, then
  * tools/duck_bench.py, all inside one container window. Late-bound
  * oracles (s04) reference persisted index dirs, so run after a Bench
  * or Verify pass has ensured them. */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    graft.Verify.dumpOracleSql(sfDir, outDir)
  }
}
