package graft
/** Local mimic of the driver's t1 smoke: SparkEntry.entry rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    println(s"ENTRY_ROWS=${df.count()}")
    df.show(5)
    spark.stop()
  }
}
