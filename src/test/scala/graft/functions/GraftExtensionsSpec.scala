package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.SparkSpec

/** Registration-path tests. (A true `withExtensions` end-to-end needs a
  * fresh JVM-wide session — getOrCreate ignores extensions when a session
  * already exists — so the public hook is smoke-tested at the object level
  * and the imperative path is tested for drop/re-register recovery.) */
class GraftExtensionsSpec extends SparkSpec {

  test("GraftExtensions injects every function builder without error") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext) // throws on malformed injection
    assert(GraftFunctions.functions.map(_._1).toSet ==
      Set("graft_dot", "graft_l2norm", "graft_minhash_sig", "graft_rolling_hash",
        "graft_nfc", "graft_sorted_intersect_count", "graft_hilbert",
        "graft_shingles", "graft_top_count"))
  }

  test("imperative register is idempotent and recovers a dropped function") {
    val registry = spark.sessionState.functionRegistry
    GraftFunctions.register(spark)
    GraftFunctions.register(spark) // second call must be a no-op, not an error
    registry.dropFunction(FunctionIdentifier("graft_dot"))
    assert(!registry.functionExists(FunctionIdentifier("graft_dot")))
    GraftFunctions.register(spark)
    val row = spark.sql(
      """SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
                graft_l2norm(array(3.0D, 4.0D)) AS n,
                graft_minhash_sig(array('a b c', 'b c d'), 2, 0) AS sig""")
      .head()
    assert(row.getDouble(0) == 11.0)
    assert(row.getDouble(1) == 5.0)
    assert(row.getSeq[String](2).length == 2)
  }
}
