package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional trailing args: query names to restrict the dump to (dev
    // loop: verify one new query against the oracle without re-running
    // the full board). Driver passes none → full board.
    val only = args.drop(2).toSet
    def selected(name: String): Boolean = only.isEmpty || only(name)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.muteExpectedWarnings() // setLogLevel re-applies root config; re-mute after it
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Aux exports the oracle SQL reads as tables (kept OUTSIDE outDir so
    // result-dir globs see only real query outputs): the q52 IVF centroids,
    // so DuckDB can recheck assignment+search under the exact centroids the
    // Spark side trained (training is bit-deterministic per sf dir).
    val auxDir = s"${outDir}_aux"
    try operators.Similarity.centroidsFor(spark, sfDir)
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q52_centroids")
    catch { case e: Throwable =>
      System.err.println(s"[verify] q52_centroids export failed: ${e.getMessage}")
    }
    // ... and the q115/q116 PQ codebooks, same contract as the centroids.
    try operators.Similarity.pqCodebookFor(spark, sfDir)
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q115_codebook")
    catch { case e: Throwable =>
      System.err.println(s"[verify] q115_codebook export failed: ${e.getMessage}")
    }
    // ... and the q137 residual codebooks (PQ over v − centroid).
    try operators.Similarity.pqResidualCodebookFor(spark, sfDir)
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q137_codebook")
    catch { case e: Throwable =>
      System.err.println(s"[verify] q137_codebook export failed: ${e.getMessage}")
    }
    // ... and the q144 SemDeDup centroids (64 lists, distinct from q52's 8).
    try operators.Similarity.semDedupCentroidsFor(spark, sfDir)
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q144_centroids")
    catch { case e: Throwable =>
      System.err.println(s"[verify] q144_centroids export failed: ${e.getMessage}")
    }
    // ... and the q138 OPQ rotation + rotated-space codebooks.
    try {
      operators.Similarity.opqRotationTable(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q138_rotation")
      operators.Similarity.opqCodebookFor(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q138_codebook")
    } catch { case e: Throwable =>
      System.err.println(s"[verify] q138 export failed: ${e.getMessage}")
    }
    // ... and the q221 PCA model (mean row + component rows).
    try operators.Similarity.pcaModelTable(spark, sfDir)
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/q221_pca")
    catch { case e: Throwable =>
      System.err.println(s"[verify] q221_pca export failed: ${e.getMessage}")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace(operators.Similarity.AuxDirToken, auxDir))}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Full query manifest so the local gate can count a crashed no-oracle
    // query as a failure instead of losing it from the denominator.
    Files.writeString(Paths.get(s"$outDir/query_names.txt"),
      SparkEntry.queries.keys.toSeq.filter(selected).sorted.mkString("\n"))
    spark.stop()
  }
}
