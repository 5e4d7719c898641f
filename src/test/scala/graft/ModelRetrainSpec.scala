package graft

/** With persistence disabled, a trained model lives only as long as the
  * session that trained it: a fresh SparkContext trains again instead of
  * reading a JVM-wide memo left by an earlier one. This is what makes the
  * bench's retrain leg time a real retrain. */
class ModelRetrainSpec extends SparkSpec {

  test("PQ codebooks retrain in each fresh SparkContext when the store is disabled") {
    val saved = ModelStore.root
    ModelStore.root = None
    def trainedInFreshContext(): Long = {
      SparkSpec.releaseContext()
      val s = SparkSpec.session
      val e = operators.Similarity.embs(s, sfDir)
      ModelStore.counted(operators.Similarity.trainPqCodebooks(e, sfDir))._2
    }
    try {
      assert(trainedInFreshContext() == 1)
      assert(trainedInFreshContext() == 1)
    } finally ModelStore.root = saved
  }
}
