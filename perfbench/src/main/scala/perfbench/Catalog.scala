package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** The operator catalog at `local[cpus]`: a fixed subset of the heavy tier,
  * one query per operator module, each run once per pass in a fresh session
  * and written in full to the `noop` sink. An observed, order-independent
  * digest of every result is checked against digests recorded from an
  * oracle-matched run.
  *
  * The order is fixed, not seeded: plans are compiled cold, so a query's
  * time depends on what ran before it in the JVM. Over ten seeds a seeded
  * order gave the median query time a quartile spread of 37% of its median.
  * The inputs are the fixed oracle fixtures, so the seed changes nothing
  * here. */
object Catalog {
  /** One per module, including the fixpoint loops q46 (connected
    * components) and q208 (HITS), the learned tier (q144 trains IVF
    * centroids through `ModelStore`), and q72/q153, which `count()` prunes
    * to nothing. */
  val Queries: Seq[String] = Seq(
    "q153_data_profile", "q72_repetition_ratio",
    "q46_dedup_components", "q144_semdedup", "q211_global_rank",
    "q107_hll_distinct", "q208_hits")
  val ToyQueries: Seq[String] = Seq("q211_global_rank", "q107_hll_distinct")

  private val modules: Map[String, String] = {
    import graft.operators._
    Seq("Relational" -> Relational.queries, "TextAnalysis" -> TextAnalysis.queries,
      "Dedup" -> Dedup.queries, "Similarity" -> Similarity.queries,
      "Curation" -> Curation.queries, "Sketches" -> Sketches.queries,
      "Graph" -> Graph.queries)
      .flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap
  }

  /** Row count, decimal sum and xor of per-row xxhash64 over the row's
    * JSON: equal for equal multisets of rows, whatever their order. */
  private def observed(df: DataFrame, obs: Observation): DataFrame = {
    val h = xxhash64(to_json(struct(df.columns.toSeq.map(df.col): _*)))
    df.observe(obs, count(lit(1)).as("n"), sum(h.cast("decimal(38,0)")).as("s"),
      bit_xor(h).as("x"))
  }

  def readDigests(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else "\"(q\\w+)\"\\s*:\\s*\"([^\"]*)\"".r
      .findAllMatchIn(Files.readString(p)).map(m => m.group(1) -> m.group(2)).toMap

  private def copyTree(from: Path, to: Path): Unit = {
    Setup.rmTree(to)
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      Files.copy(p, to.resolve(from.relativize(p).toString), StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  def run(a: Args): Result = {
    val r = new Result
    val queries = if (a.toy) ToyQueries else Queries
    val warmDir = a.runDir.resolve("catalog-warm")
    val dataDir = a.dataDir.toString
    // the warm-up loads the engine with one small scan and aggregate over a
    // copy of the tables; each timed query still compiles its own plans,
    // as the first run of that query in a fresh application does
    var session = Setup(a, r)(() => copyTree(a.dataDir, warmDir)) { s =>
      graft.Tables.load(s.spark, warmDir.toString, "events")
        .groupBy(col("user_id")).agg(min(col("value")), avg(col("value")), count(lit(1)))
        .write.format("noop").mode("overwrite").save()
    }
    val expected = readDigests(a.digests).map { case (q, d) =>
      q -> (if (a.corruptDigest) d + "-corrupted" else d)
    }

    val gcBefore = Jvm.gcMs()
    val trainsBefore = graft.ModelStore.trains.get
    val loadsBefore = graft.ModelStore.loads.get
    val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val shapes = mutable.Map.empty[String, Shape].withDefaultValue(Shape(0, 0, 0, 0, 0))
    val planMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val digests = mutable.Map.empty[String, String]
    var persistentMax = 0
    var passes = 0
    val t0 = System.nanoTime()
    while (passes == 0 || Stats.secs(t0) < a.seconds) {
      // every pass starts with cold session memos; the warm-up read other paths
      if (passes > 0) {
        session.stop()
        session = Session.start(a.cpus)
      }
      val s = session
      Trace.span("operators.pass", trace = s"pass-$passes") { passId =>
        queries.foreach { q =>
          val module = modules(q)
          r.attempted += 1
          s.drain()
          val shape0 = s.shapes.shape
          val plan0 = s.plans.ms
          try {
            val obs = Observation(s"digest-$q")
            val t = Trace.span(s"operators.$module", passId, q) { id =>
              s.shapes.parent = id
              s.plans.parent = id
              Stats.timed(observed(graft.SparkEntry.queries(q)(s.spark, dataDir), obs)
                .write.format("noop").mode("overwrite").save())._2
            }
            val m = obs.get
            digests(q) = s"${m("n")}:${m("s")}:${m("x")}"
            times.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += t
          } catch {
            case e: Exception =>
              r.failed += 1
              r.problems += s"$q threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          }
          s.drain()
          s.shapes.parent = 0L
          s.plans.parent = 0L
          val d = s.shapes.shape - shape0
          val acc = shapes(module)
          shapes(module) = Shape(acc.jobs + d.jobs, acc.stages + d.stages, acc.tasks + d.tasks,
            acc.shuffleWrite + d.shuffleWrite, acc.spill + d.spill)
          planMs(module) += s.plans.ms - plan0
          persistentMax = math.max(persistentMax, s.spark.sparkContext.getPersistentRDDs.size)
        }
      }
      passes += 1
    }
    session.stop()

    queries.foreach { q =>
      expected.get(q) match {
        case Some(want) => r.check(digests.get(q).contains(want),
          s"$q digest ${digests.getOrElse(q, "missing")} != expected $want")
        case None => r.problems += s"$q has no expected digest in ${a.digests.getFileName}"
      }
    }
    if (sys.env.contains("PERFBENCH_RECORD_DIGESTS"))
      Files.writeString(a.digests, digests.toSeq.sorted
        .map { case (q, d) => s"  ${Json.str(q)}: ${Json.str(d)}" }.mkString("{\n", ",\n", "\n}\n"))

    val perQuery = times.map { case (q, ts) => q -> Stats.median(ts.toSeq) }
    val ms = perQuery.values.map(_ * 1000).toSeq
    val catalog = perQuery.values.sum
    r.primary(Stats.median(ms), Stats.pct(ms, 99), perQuery.size / catalog)
    Metrics.Modules.foreach { m =>
      val mq = perQuery.filter { case (q, _) => modules(q) == m }
      val sh = shapes(m)
      // per-pass figures, so they do not grow with the number of passes
      r.layer ++= Seq(s"operators.$m.s" -> mq.values.sum,
        s"operators.$m.jobs" -> sh.jobs.toDouble / passes,
        s"operators.$m.stages" -> sh.stages.toDouble / passes,
        s"operators.$m.tasks" -> sh.tasks.toDouble / passes,
        s"operators.$m.shuffle_write_bytes" -> sh.shuffleWrite.toDouble / passes,
        s"operators.$m.spill_bytes" -> sh.spill.toDouble / passes,
        s"operators.$m.plan_ms" -> planMs(m).toDouble / passes)
    }
    r.layer ++= Seq(
      "memo.persistent_rdds_max" -> persistentMax.toDouble,
      "jvm.gc_ms" -> (Jvm.gcMs() - gcBefore).toDouble,
      "models.trained" -> (graft.ModelStore.trains.get - trainsBefore).toDouble,
      "models.loaded" -> (graft.ModelStore.loads.get - loadsBefore).toDouble)
    r.notes ++= Seq(
      ("catalog_s", catalog, "s"),
      ("query_geomean_ms", Stats.geomean(ms), "ms"),
      ("passes", passes.toDouble, "count")) ++
      queries.flatMap(q => perQuery.get(q).map(t => (s"query.$q", t * 1000, "ms"))) ++
      Seq(("error_rate", r.failed.toDouble / math.max(1L, r.attempted), s"of ${r.attempted}"))
    r
  }
}
