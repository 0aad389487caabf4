package graft

import org.apache.spark.sql.SparkSession

/** Plan inspection helper: prints the formatted physical plan of each
  * named query (all of them when no names given) so scan pushdown,
  * broadcast choices, and codegen spans can be audited. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.select(args.toSeq).foreach { q =>
      println(s"\n========== ${q.name} ==========")
      try q.build(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
