package graft

import java.io.File
import java.nio.file.Files

class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def dataFile(dir: String): File =
    new File(dir).listFiles().find(_.getName.startsWith("part-")).get

  private def crcOf(f: File): File = new File(f.getParentFile, s".${f.getName}.crc")

  test("schema memo re-infers after a file inside a partition directory is rewritten") {
    val root = Files.createTempDirectory("tables-memo").toString
    val path = s"$root/t.parquet"
    Seq((1L, "a")).toDF("id", "p").write.partitionBy("p").parquet(path)
    assert(Tables.load(spark, root, "t").columns.toSet == Set("id", "p"))

    // Rewrite the one data file IN PLACE with a wider schema: same name, so
    // no directory entry changes and neither directory's mtime moves.
    val part = dataFile(s"$path/p=a")
    val other = Files.createTempDirectory("tables-memo-new").toString
    Seq((1L, 2L)).toDF("id", "extra").coalesce(1).write.parquet(s"$other/x")
    val wider = dataFile(s"$other/x")
    val dirMtimes = Seq(new File(path), part.getParentFile).map(_.lastModified())
    val oldMtime = part.lastModified()
    Files.write(part.toPath, Files.readAllBytes(wider.toPath))
    Files.write(crcOf(part).toPath, Files.readAllBytes(crcOf(wider).toPath))
    part.setLastModified(oldMtime + 5000)
    assert(Seq(new File(path), part.getParentFile).map(_.lastModified()) == dirMtimes,
      "the rewrite must leave the top-level and partition directories untouched")

    assert(Tables.load(spark, root, "t").columns.toSet == Set("id", "extra", "p"))
  }
}
