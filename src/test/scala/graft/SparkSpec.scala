package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session keeps the
  * suite fast; forked test JVM gets the add-opens flags from build.sbt). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Testdata root, overridable so the suite is not married to one
    * machine's layout (`GRAFT_TESTDATA` env, falling back to the driver's
    * documented location — TESTDATA.md). */
  val sfRoot: String = sys.env.getOrElse("GRAFT_TESTDATA", "/root/testdata")
  val sfDir = s"$sfRoot/sf0.001"
  /** The bigger gate-scale dir for specs that measure volume, not just
    * correctness. */
  def sfDirAt(sf: String): String = s"$sfRoot/sf$sf"
}

object SparkSpec {
  @volatile private var cached: SparkSession = _

  /** The shared session, rebuilt if a spec stopped it to own the JVM's
    * one SparkContext (forked-test suites run sequentially, so only one
    * spec touches the context at a time). */
  def session: SparkSession = synchronized {
    if (cached == null || cached.sparkContext.isStopped) cached = build()
    cached
  }

  /** Stop the shared context so a spec can create one with a different
    * master (e.g. the multi-JVM `local-cluster` axis). The next
    * `session` call transparently rebuilds local[4]. */
  def releaseContext(): Unit = synchronized {
    if (cached != null && !cached.sparkContext.isStopped) cached.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def build(): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(GraftSession.localFsConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(s)
    s
  }
}
