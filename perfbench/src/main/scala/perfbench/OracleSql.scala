package perfbench

/** Prints the DuckDB oracle SQL of the catalog workload's queries as one
  * JSON object; `make_expected.py` runs it to regenerate the expected
  * hashes. */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val all = graft.SparkEntry.oracleSql
    println(Json.obj(CatalogWorkload.Queries.map(q => q -> all(q)): _*))
  }
}
