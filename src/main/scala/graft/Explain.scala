package graft

/** Dev harness: time one or more queries (warm, N reps) and optionally dump
  * the formatted physical plan — to stdout (`-p`) or one file per query
  * (`-o <dir>`, written as `<dir>/<name>.txt`). Usage:
  *   runMain graft.Explain <sfDir> <reps> [-p] [-o <dir>] <query names...>
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val showPlan = args.contains("-p")
    // positional parse: "-o" consumes exactly its following token, so a
    // query name that happens to equal the output directory string is
    // never silently dropped (and a stray trailing "-o" fails loudly)
    val rest = args.drop(2).filterNot(_ == "-p")
    val oIdx = rest.indexOf("-o")
    require(oIdx == -1 || oIdx + 1 < rest.length, "-o requires a directory")
    val outDir = if (oIdx == -1) None else Some(rest(oIdx + 1))
    val names =
      if (oIdx == -1) rest.toSeq
      else rest.take(oIdx).toSeq ++ rest.drop(oIdx + 2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      if (showPlan) fn(spark, sfDir).explain("formatted")
      outDir.foreach { dir =>
        val planStr = fn(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, s"$name.txt"),
          planStr.getBytes("UTF-8"))
        println(s"PLAN $name -> $dir/$name.txt")
      }
      (1 to reps).foreach { r =>
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        println(f"TIME $name rep$r ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      }
    }
    spark.stop()
  }
}
