package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Self-test of the harness's own Spark-side code on tiny inputs: the
  * fingerprint must not depend on row order or partitioning, must see a
  * changed value, a dropped row and a duplicated row, and must not depend
  * on column order.
  */
object SelfTest {
  def run(): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val df = spark.range(0, 200).select(col("id"),
        (col("id") * 0.5).as("x"), concat(lit("s"), col("id")).as("名"))
      val fp = Main.fingerprint(df)
      def check(what: String, ok: Boolean): Unit =
        if (!ok) throw new AssertionError(s"fingerprint: $what")
      check("order", Main.fingerprint(df.orderBy(rand(7))) == fp)
      check("partitioning", Main.fingerprint(df.repartition(5)) == fp)
      check("column order", Main.fingerprint(df.select("x", "名", "id")) == fp)
      check("changed value", Main.fingerprint(df.withColumn("x",
        when(col("id") === 17, lit(-1.0)).otherwise(col("x")))) != fp)
      check("dropped row", Main.fingerprint(df.filter(col("id") =!= 3)) != fp)
      check("duplicated row", Main.fingerprint(df.union(df.limit(1))) != fp)
      check("empty frame", Main.fingerprint(df.limit(0)) == "0:0:0")
      println("""{"selftest":"ok","checks":7}""")
    } finally spark.stop()
  }
}
