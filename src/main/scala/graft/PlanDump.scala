package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Optimization-round evidence tool: writes `.explain("formatted")` for the
  * named queries to `<outDir>/<query>_<tag>.txt` so before/after plan shapes
  * are committed and diffable (plans/r13/). It captures the FULL formatted
  * plan (Exchange count, join strategy, PushedFilters, ReadSchema, codegen
  * spans).
  *
  * `runMain graft.PlanDump <outDir> <tag> [query...]`
  * env: SPARK_GRAFT_SF_DIR (default sf0.01), SPARK_GRAFT_CPUS (default 4).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkEntry.configure(SparkSession.builder()
      .master(s"local[$cpus]").config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    Files.createDirectories(Paths.get(outDir))
    for (q <- names) {
      val df = SparkEntry.queries(q)(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${q}_$tag.txt"), txt)
      println(s"wrote $outDir/${q}_$tag.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
