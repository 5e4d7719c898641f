package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Dev harness: min-of-[[Bench.Runs]] cold runs of each named query
  * ([[Bench.coldRun]]: a fresh session per run, warm-up at sf0.001, one
  * timed `count()` metered by [[Shape]]), printing every run's seconds
  * and shape. With `-o <dir>` each query's formatted physical plan is
  * also written to `<dir>/<name>.txt`. Usage:
  *   runMain graft.Profile <sfDir> [-o <dir>] <query names...>
  * A decade of scaling is two runs at two dirs. */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Profile <sfDir> [-o <dir>] <query names...>")
    val sfDir = args(0)
    val (outDir, names) = parse(args.toSeq.drop(1))
    require(names.nonEmpty, "no query names given")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    names.foreach { name =>
      val secs = (1 to Bench.Runs).map { r =>
        val run = Bench.coldRun(cpus, name, sfDir, df =>
          if (r == 1) outDir.foreach { dir =>
            Files.createDirectories(Paths.get(dir))
            Files.write(Paths.get(dir, s"$name.txt"),
              df.queryExecution.explainString(FormattedMode).getBytes("UTF-8"))
            println(s"PLAN $name -> $dir/$name.txt")
          })
        println(f"PROFILE $name run$r ${run.sec}%.3f s " +
          (if (run.sec < 0) "failed" else run.shape.toString))
        run.sec
      }
      val min = if (secs.contains(-1.0)) -1.0 else secs.min
      println(f"PROFILE $name min $min%.3f s")
    }
  }

  /** Splits the arguments after the sf dir into the `-o` directory and the
    * query names. The parse is positional: `-o` consumes exactly its next
    * token, so a query name equal to the directory string is kept, and a
    * trailing `-o` fails loudly. */
  private[graft] def parse(rest: Seq[String]): (Option[String], Seq[String]) = {
    val o = rest.indexOf("-o")
    require(o == -1 || o + 1 < rest.length, "-o requires a directory")
    if (o == -1) (None, rest)
    else (Some(rest(o + 1)), rest.take(o) ++ rest.drop(o + 2))
  }
}
