package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Evidence dump for the optimization rounds: writes
  * `explain("formatted")` of named declared queries to
  * `<outDir>/<query>_<suffix>.txt` (the `plans/rNN/` before/after files the
  * judge checks claims against). Query construction may run prep side
  * effects (store writes) exactly like the bench does.
  * `runMain graft.PlanDump <sfDir> <outDir> <suffix> <name,name,...>` */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix) = args.take(3)
    val names = args(3).split(",").toSeq
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // a failed prep is printed and stamped into every dump it taints
    val prepFailure: Option[String] =
      try { SparkEntry.prepareFixtures(spark, sfDir); None }
      catch { case e: Throwable =>
        println(s"[plandump] prepareFixtures FAILED: $e")
        Some(s"-- WARNING: prepareFixtures failed, plan may not match a bench run: $e\n")
      }
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val txt = prepFailure.getOrElse("") + df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"), txt)
        println(s"[plandump] wrote ${n}_$suffix.txt (${txt.length} chars)")
      } catch { case e: Throwable =>
        println(s"[plandump] FAILED $n: $e")
      }
    }
    spark.stop()
  }
}
