package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.ngsi.NgsiJson
import graft.operators.Similarity
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
    // result-dir globs see only real query outputs). Each is a trained
    // model (training is bit-deterministic per sf dir), so DuckDB rechecks
    // the query's deterministic stages under the exact model the Spark side
    // used: the q52 IVF centroids, the q115/q116 PQ codebooks, the q137
    // residual codebooks (PQ over v − centroid), the q144 SemDeDup
    // centroids (64 lists, distinct from q52's 8), the q138 OPQ rotation +
    // rotated-space codebooks and the q221 PCA model (mean row + component
    // rows).
    val auxDir = s"${outDir}_aux"
    Seq[(String, () => DataFrame)](
      "q52_centroids" -> (() => Similarity.centroidsFor(spark, sfDir)),
      "q115_codebook" -> (() => Similarity.pqCodebookFor(spark, sfDir)),
      "q137_codebook" -> (() => Similarity.pqResidualCodebookFor(spark, sfDir)),
      "q144_centroids" -> (() => Similarity.semDedupCentroidsFor(spark, sfDir)),
      "q138_rotation" -> (() => Similarity.opqRotationTable(spark, sfDir)),
      "q138_codebook" -> (() => Similarity.opqCodebookFor(spark, sfDir)),
      "q221_pca" -> (() => Similarity.pcaModelTable(spark, sfDir))
    ).foreach { case (name, frame) =>
      try frame().coalesce(1).write.mode("overwrite").parquet(s"$auxDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name export failed: ${e.getMessage}")
      }
    }
    // JSON string escape: a tab or CR in builder-authored SQL would
    // otherwise make the driver's json.load fail and silently zero the
    // round's correctness.
    def q(s: String): String = "\"" + NgsiJson.esc(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace(Similarity.AuxDirToken, auxDir))}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Full query manifest so the local gate can count a crashed no-oracle
    // query as a failure instead of losing it from the denominator.
    Files.writeString(Paths.get(s"$outDir/query_names.txt"),
      SparkEntry.queries.keys.toSeq.filter(selected).sorted.mkString("\n"))
    spark.stop()
  }
}
