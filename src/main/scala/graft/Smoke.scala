package graft

/** Dev smoke: mirrors the driver's t1 check — SparkEntry.entry on sf0.001
  * must return rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Bench.envSession()
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(3, truncate = false)
    spark.stop()
  }
}
