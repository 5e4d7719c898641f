package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Content-addressed persistence for trained model artifacts — IVF
  * centroids, PQ/residual-PQ/OPQ codebooks, BPE merges.
  *
  * At 100 TB the index artifacts ARE the deliverable: a production
  * pipeline trains its coarse quantizer / codebooks once and serves them
  * for months, while the per-JVM memo caches this codebase uses for
  * intra-session reuse vanish on exit and force a retrain per session.
  * This store closes that gap with the standard content-addressed layout:
  *
  *   <root>/<kind>/<corpus-digest>__<hyperparams>/part-*.parquet
  *
  *  - corpus-digest: an order-independent xxhash64 fold over the training
  *    input's rows (sum of per-row hashes + row count) — one cheap
  *    distributed scan, no collect of data. Any change to the corpus
  *    changes the address, so a stale artifact can never be served for
  *    new data (and two dirs with identical content SHARE the artifact).
  *  - hyperparams: spelled into the address, so every dial (nLists,
  *    iters, K, sample size) separates artifacts.
  *
  * Bit-exactness: all artifacts are numeric rows (longs + double arrays)
  * written as parquet INT64/DOUBLE — IEEE-754 bits round-trip exactly, so
  * reload == retrain BIT FOR BIT given the deterministic trainers
  * (ModelStoreSpec pins it). Writes go through a temp dir + atomic rename
  * so a crashed writer can never leave a half-artifact at a live address;
  * concurrent writers race benignly (same bits, last rename wins).
  *
  * Root: SPARK_GRAFT_MODEL_DIR (default `data/models`, gitignored).
  * Setting it to the empty string disables persistence (pure retrain),
  * which the spec uses to compare both paths. */
object ModelStore {

  /** Generic artifact row: (part, i, j, vec) covers every model shape —
    * centroids (part="cent", i=cid), subspace codebooks (part="cb", i=m,
    * j=code), rotation matrices (part="rot", i=row). */
  type Rows = Seq[(String, Long, Long, Array[Double])]

  /** Store root; None disables persistence. Initialized from the env,
    * reassignable so specs can point at a scratch dir / disable it. */
  @volatile var root: Option[String] =
    sys.env.get("SPARK_GRAFT_MODEL_DIR").orElse(Some("data/models"))
      .filter(_.nonEmpty)

  /** Order/partitioning-independent digest of the training input: the
    * exact DECIMAL(38) sum and the bitwise XOR of per-row xxhash64 over
    * the named columns, plus the row count. One distributed scan; both
    * folds commute (and the decimal sum cannot overflow under ANSI for
    * any realistic corpus), so any partitioning of any cluster computes
    * the same address. */
  def digestOf(df: DataFrame, cols: Seq[String]): String = {
    val r = df
      .select(xxhash64(cols.map(col): _*).as("h"))
      .agg(sum(col("h").cast("decimal(38,0)")).as("s"),
        expr("bit_xor(h)").as("x"), count(lit(1)).as("c"))
      .collect()(0)
    val s = r.getDecimal(0).toBigInteger.mod(
      java.math.BigInteger.ONE.shiftLeft(64))
    f"${s.longValue()}%016x${r.getLong(1)}%016x_${r.getLong(2)}%x"
  }

  /** Bump when a trainer's ALGORITHM changes (not its dials — those are
    * in the hyper string): the version rides in every address, so new
    * code can never serve an artifact trained by old code. */
  val FormatVersion = 1

  private def dirFor(rootDir: String, kind: String, digest: String,
                     hyper: String): String = {
    val safeHyper = hyper.replaceAll("[^A-Za-z0-9._=,-]", "-")
    s"$rootDir/$kind/v$FormatVersion/${digest}__$safeHyper"
  }

  /** How many artifacts this JVM trained vs
    * served from parquet. */
  val trains = new java.util.concurrent.atomic.AtomicLong(0L)
  val loads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** `body`'s result with the artifacts this JVM trained and loaded while
    * it ran — (result, trained, loaded). */
  def counted[A](body: => A): (A, Long, Long) = {
    val (t0, l0) = (trains.get, loads.get)
    val a = body
    (a, trains.get - t0, loads.get - l0)
  }

  /** Load-or-train: if the artifact exists at its content address, read it
    * (bit-exact); otherwise run `train`, persist, and return the trained
    * rows. With persistence disabled (empty root) this is just `train`. */
  def getOrTrain(spark: SparkSession, kind: String, digest: String,
                 hyper: String)(train: => Rows): Rows =
    root match {
      case None => trains.incrementAndGet(); train
      case Some(rootDir) =>
        val dir = dirFor(rootDir, kind, digest, hyper)
        if (Files.exists(Paths.get(dir, "_SUCCESS"))) {
          loads.incrementAndGet(); load(spark, dir)
        } else {
          trains.incrementAndGet()
          val rows = train
          write(spark, dir, rows)
          rows
        }
    }

  /** Symbol-table artifact row: (i, left, right, count) — BPE merge
    * tables and other learned string mappings. Longs and strings
    * round-trip parquet exactly; same content addressing and atomic
    * write as [[getOrTrain]]. */
  type KvRows = Seq[(Long, String, String, Long)]

  /** Symbol-table lookup, split from [[putKv]] for trainers whose training
    * pass also produces expensive by-products they'd rather not recompute
    * (the BPE ladder trains merges AND materializes the per-stage frames in
    * one sweep; on a store hit it REPLAYS the frames from the merges
    * instead). */
  def lookupKv(spark: SparkSession, kind: String, digest: String,
               hyper: String): Option[KvRows] =
    root.flatMap { rootDir =>
      val dir = dirFor(rootDir, kind, digest, hyper)
      if (Files.exists(Paths.get(dir, "_SUCCESS"))) {
        loads.incrementAndGet()
        Some(spark.read.parquet(dir).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
          .toSeq.sortBy(_._1))
      } else None
    }

  def putKv(spark: SparkSession, kind: String, digest: String,
            hyper: String, rows: KvRows): Unit =
    root.foreach { rootDir =>
      val dir = dirFor(rootDir, kind, digest, hyper)
      import spark.implicits._
      val tmp = dir + s".tmp-${java.util.UUID.randomUUID().toString.take(8)}"
      rows.toDF("i", "l", "r", "cnt")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      try { Files.move(Paths.get(tmp), Paths.get(dir),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE); () }
      catch { case _: Throwable => deleteRec(new java.io.File(tmp)) }
    }

  private def load(spark: SparkSession, dir: String): Rows =
    spark.read.parquet(dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getSeq[Double](3).toArray))
      .toSeq
      .sortBy(t => (t._1, t._2, t._3))

  private def write(spark: SparkSession, dir: String, rows: Rows): Unit = {
    import spark.implicits._
    val tmp = dir + s".tmp-${java.util.UUID.randomUUID().toString.take(8)}"
    rows.map { case (p, i, j, v) => (p, i, j, v.toIndexedSeq) }
      .toDF("part", "i", "j", "vec")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    try { Files.move(Paths.get(tmp), Paths.get(dir),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE); () }
    catch { case _: Throwable => // concurrent writer won the rename: same bits
      deleteRec(new java.io.File(tmp))
    }
  }

  private def deleteRec(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete(); ()
  }

  // ---- shape adapters --------------------------------------------------

  /** (cid, center) table ⇄ rows. */
  def centroidsToRows(cents: Array[(Long, Array[Double])]): Rows =
    cents.toSeq.map { case (cid, cv) => ("cent", cid, 0L, cv) }
  def rowsToCentroids(rows: Rows): Array[(Long, Array[Double])] =
    rows.filter(_._1 == "cent").map(t => (t._2, t._4)).toArray

  /** Per-subspace codebooks cb(m)(k) ⇄ rows. */
  def codebooksToRows(cb: Array[Array[Array[Double]]], part: String = "cb"): Rows =
    for {
      m <- cb.indices.toSeq
      k <- cb(m).indices
    } yield (part, m.toLong, k.toLong, cb(m)(k))
  def rowsToCodebooks(rows: Rows, part: String = "cb"): Array[Array[Array[Double]]] = {
    val sel = rows.filter(_._1 == part)
    val byM = sel.groupBy(_._2)
    Array.tabulate(byM.size) { m =>
      val ks = byM(m.toLong).sortBy(_._3)
      ks.map(_._4).toArray
    }
  }

  /** Square rotation matrix ⇄ rows. */
  def matrixToRows(rot: Array[Array[Double]], part: String = "rot"): Rows =
    rot.indices.toSeq.map(i => (part, i.toLong, 0L, rot(i)))
  def rowsToMatrix(rows: Rows, part: String = "rot"): Array[Array[Double]] =
    rows.filter(_._1 == part).sortBy(_._2).map(_._4).toArray

}
