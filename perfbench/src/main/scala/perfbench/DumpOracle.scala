package perfbench

/** Writes the DuckDB oracle SQL of every benchmark query, as registered in
  * `SparkEntry.oracleSql`, to the JSON file named by the first argument.
  * `perfbench/fingerprints.py --update` runs it to rebuild the committed
  * result fingerprints. */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val names = QueryWorkload.Lifecycle ++ QueryWorkload.Serve ++ QueryWorkload.Profiled
    val sql = graft.SparkEntry.oracleSql
    val missing = names.filterNot(sql.contains)
    require(missing.isEmpty, s"no oracle SQL for ${missing.mkString(", ")}")
    val json = Json.obj(names.map(n => n -> Json.str(sql(n))))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)), json + "\n")
    ()
  }
}
