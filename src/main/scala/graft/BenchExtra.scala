package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Plan dump, SEPARATE from the frozen driver contract in [[Bench]]: writes
  * `.explain("formatted")` for every declared query to
  * plans/r07/<name>_<suffix>.txt (plan claims are checked there).
  * `sbt "runMain graft.BenchExtra [suffix]"` (suffix defaults to `before`).
  * Per-query and per-layer timings live in `graft.Bench` and `kgbench/`.
  */
object BenchExtra {

  private def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val suffix = args.headOption.getOrElse("before")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = session(cpus)
    try explainAll(spark, sfDir, suffix)
    finally spark.stop()
  }

  private def explainAll(spark: SparkSession, sfDir: String, suffix: String): Unit = {
    val outDir = Paths.get("plans", "r07")
    Files.createDirectories(outDir)
    // warm shared materializations so query plans reflect steady state
    kg.KgQueries.sharedTriples(spark)
    kg.KgQueries.sharedTriples(spark, "original")
    kg.KgQueries.sharedClosure(spark)
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), plan)
        println(s"[explain] $name ok (${plan.length} chars)")
      } catch {
        case e: Throwable => println(s"[explain] $name FAILED: ${e.getMessage}")
      }
    }
  }
}
