package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.functions.{NearestCentroid, Shingles, TopCount}

/** Shared, engine-portable text/vector primitives for the LLM-pipeline
  * operators (dedup, similarity, text analysis, multimodal).
  *
  * Portability contract: every primitive here has a DuckDB-SQL twin used by
  * the oracle strings, built on operations whose results are bit-identical
  * across engines:
  *   - `md5(string)` — the one hash both engines share. MinHash is therefore
  *     "lexicographic min of seeded md5 hex digests", a valid min-wise
  *     independent family (the seed is prepended to the shingle).
  *   - integer arithmetic, exact-rational double division (int/int), and
  *     IEEE-754 double ops in a fixed fold order.
  *
  * Scale notes (100 TB stance): everything is a narrow per-row projection or
  * an equi-join on a computed key — no cross joins, no driver-side state.
  * All-pairs similarity is always blocked by an LSH/minhash bucket key first,
  * so the shuffle is keyed by bucket and the quadratic term is bounded by
  * bucket size, not table size.
  */
object TextFns {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Partition count for CPU-bound projection passes (signature/md5/dot
    * product stages). Explicit so AQE does not coalesce the exchange back to
    * one partition when the input bytes are small — the cost driver here is
    * CPU per row, not bytes. */
  def cpuPartitions: Int =
    org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism

  /** Gated CPU fan (r17): hash-repartition `df` by `key` to
    * [[cpuPartitions]] ONLY when its input parallelism is below the core
    * count — the small-file LOCAL artifact the fan exists to fix (a
    * sub-core-count split count leaves cores idle under a CPU-bound
    * projection). At 100 TB the scan has thousands of splits and the
    * unconditional repartition was a corpus-wide exchange that existed
    * purely to fix the local artifact — gated, it vanishes from the plan
    * (`FanCpuSpec` pins both directions).
    *
    * The gate prices splits from plan STATISTICS (size ÷
    * `files.maxPartitionBytes`), the [[dataPartitions]] discipline —
    * metadata only, it runs no job on any input plan. (An exact
    * `rdd.getNumPartitions` probe would be wrong here: under AQE,
    * executing `.rdd` on a frame that already contains an exchange
    * materializes its query stages — running jobs at construction time.)
    * Precondition: the gate is conservative only for scans and left-semi
    * inputs (a left-semi join reports its left side's statistics). Their
    * projected estimates can only err low, which merely KEEPS the fan
    * (never wrong, just local-shaped), and a size-unknown source keeps it
    * too. Join statistics can OVERestimate — inner and cross joins
    * multiply — and an overestimate reads as splits >= cores and silently
    * drops the fan on an input that really scans as one split. Every
    * current call site passes a scan or a left-semi join. */
  def fanCpu(df: org.apache.spark.sql.DataFrame, key: Column): org.apache.spark.sql.DataFrame = {
    val conf = org.apache.spark.sql.internal.SQLConf.get
    val unknown = BigInt(conf.defaultSizeInBytes)
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val splits =
      if (size >= unknown) BigInt(0)
      else size / BigInt(conf.filesMaxPartitionBytes)
    if (splits >= BigInt(cpuPartitions)) df
    else df.repartition(cpuPartitions, key)
  }

  /** Data-proportional partition count for explicitly-partitioned MEMO
    * tables. The r11 decade fix (AQE `initialPartitionNum` = 8× cores)
    * made engine shuffles data-proportional, but an explicit
    * `repartition(n, key)` pins n forever: at 10× the corpus that is 10×
    * the bytes per partition, and for the graph family 10× the
    * shuffle-hash BUILD side per task — the sf10→sf100 decade caught
    * q201 OOMing exactly there ([[cpuPartitions]]-pinned edge layout,
    * node-sized builds growing with the corpus on a fixed heap).
    * Partition count here scales with the SOURCE scans' plan-statistics
    * bytes (file sizes — no job runs): one partition per 32 MB of
    * compressed input, floored at [[cpuPartitions]] (the CPU-bound
    * projection rationale still holds at small inputs: AQE must not
    * coalesce the exchange to one task), capped at 32768. Deterministic
    * for a given corpus (same files → same stats → same count).
    *
    * Precondition: `sources` should be file-backed scans (or other plans
    * with REAL size statistics). A source without statistics reports the
    * `spark.sql.defaultSizeInBytes` sentinel (Long.MaxValue by default),
    * which would silently pin 32768 partitions on tiny data — any such
    * source is treated as size-unknown and DROPPED from the sum (with a
    * warning), so a mixed call still prices from the sizes it can trust:
    * one stat-less side frame next to a huge file-backed scan must not
    * collapse the whole call to [[cpuPartitions]]. All-unknown degrades
    * to [[cpuPartitions]] (the pre-decade default) rather than trusting
    * a sentinel. */
  def dataPartitions(sources: org.apache.spark.sql.DataFrame*): Int = {
    val unknown = BigInt(
      org.apache.spark.sql.internal.SQLConf.get.defaultSizeInBytes)
    val sizes = sources
      .map(df => df.queryExecution.optimizedPlan.stats.sizeInBytes)
    val known = sizes.filter(_ < unknown)
    if (known.size < sizes.size)
      log.warn(s"dataPartitions: ${sizes.size - known.size} of " +
        s"${sizes.size} source(s) have no real size statistics " +
        "(defaultSizeInBytes sentinel) — pricing from the known sizes only")
    val byData = (known.sum / (32L << 20)).min(BigInt(32768)).toInt
    math.max(cpuPartitions, byData)
  }

  /** Whitespace tokenization (documents.text is single-space separated). */
  def toks(c: Column): Column = split(c, " ")

  /** n-token shingles: ["a","b","c","d"], n=3 -> ["a b c", "b c d"], via
    * the native one-pass [[graft.functions.Shingles]]. Short or null token
    * arrays yield an empty array. */
  def shingles(tk: Column, n: Int): Column =
    Bridge.column(Shingles(Bridge.expression(tk), n))

  /** Highest count of any non-null element of a string array (null for an
    * empty array), via the native one-hash-pass [[graft.functions.TopCount]]. */
  def topCount(a: Column): Column =
    Bridge.column(TopCount(Bridge.expression(a)))

  /** Evaluate `c` ONCE per row and hand it to `f` as a bound lambda
    * variable — manual common-subexpression elimination for expensive
    * array expressions referenced several times inside one predicate.
    * Filter predicates get no codegen subexpression elimination, so e.g.
    * the gopher repetition ratio re-built its shingle array (a ~1.5 s/SF0.1
    * corpus pass) once per reference; wrapped this way the array
    * materializes once and the references read the lambda variable. */
  def bindOnce(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), f), 1)

  /** Seeded portable hash of a string column: md5 hex of "<seed>|<value>". */
  def seededMd5(seed: Int, c: Column): Column =
    md5(concat(lit(s"$seed|"), c))

  /** MinHash signature element `seed` over a shingle array: the
    * lexicographically smallest seeded md5 across shingles. */
  def minhash(sh: Column, seed: Int): Column =
    array_min(transform(sh, x => seededMd5(seed, x)))

  /** Full MinHash signature (seeds seedBase until seedBase+numHashes) in ONE
    * pass over the shingle array via the native
    * [[graft.functions.MinHashSignature]] expression — value-identical to
    * `numHashes` [[minhash]] columns, ~numHashes× less array traversal.
    * Requires [[graft.functions.GraftFunctions]] registered on the session. */
  def minhashSig(sh: Column, numHashes: Int, seedBase: Int): Column =
    call_function("graft_minhash_sig", sh, lit(numHashes), lit(seedBase))

  /** LSH band key over adjacent minhash signature columns. */
  def bandKey(sigs: Seq[Column]): Column = md5(concat(sigs: _*))

  /** SimHash bit accumulator for plane `b`: fold +-1 per token, sign taken
    * from the top bit of the seeded md5 (first hex char >= '8'). Token order
    * is the array order, so the integer fold is deterministic. */
  def simhashVote(tk: Column, b: Int): Column =
    aggregate(tk, lit(0),
      (acc, w) => acc + when(substring(seededMd5(b, w), 1, 1) >= "8", 1).otherwise(-1))

  /** SimHash value from `bits` vote columns: bit b set iff vote_b >= 0. */
  def simhashFromVotes(votes: Seq[Column]): Column =
    votes.zipWithIndex.map { case (v, b) =>
      when(v >= 0, lit(1 << b)).otherwise(lit(0))
    }.reduce(_ + _)

  /** |A ∩ B| of two sorted duplicate-free string arrays via the native
    * zero-allocation merge-count [[graft.functions.SortedIntersectCount]].
    * Requires [[graft.functions.GraftFunctions]] registered on the session. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    call_function("graft_sorted_intersect_count", a, b)

  /** Exact Jaccard of two string arrays (rational int/int division —
    * bit-identical across engines). Inputs are deduped here so callers may
    * pass raw shingle arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b))

  // ---------------------------------------------------------------------
  // Vector primitives (embeddings are float arrays; all math is done after
  // an exact float->double widening, with a left-to-right fold so the sum
  // order — the only IEEE freedom — is pinned on both engines).
  // ---------------------------------------------------------------------

  /** Dot product via the native codegen'd [[graft.functions.DotProduct]]
    * (same left-to-right fold as `aggregate(zip_with(a,b,*), 0D, +)`, so
    * results are bit-identical — the lambda version evaluates interpreted
    * per element and dominated the ANN profiles). Callers must have
    * registered [[graft.functions.GraftFunctions]] on the session. */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def norm(a: Column): Column = call_function("graft_l2norm", a)

  /** Cosine similarity of two double arrays. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Each `v`'s nearest centroid by [[cosine]] under the centroid table
    * `cent` (cid, cv) — `struct<cid, csim>`, ties to the smaller cid, null
    * only when `cent` is empty — via the native one-pass
    * [[graft.functions.NearestCentroid]]. `cent` is model-scale (a trained
    * coarse quantizer, a local relation), so it is collected here and rides
    * the plan as a literal: assignment is a per-row map, with no join and
    * no aggregate. */
  def nearestCentroid(v: Column, cent: DataFrame): Column = {
    val rows = cent.select(col("cid").cast("long"), col("cv").cast("array<double>"))
      .collect().map { r =>
        InternalRow(if (r.isNullAt(0)) null else r.getLong(0),
          if (r.isNullAt(1)) null
          else UnsafeArrayData.fromPrimitiveArray(r.getSeq[Double](1).toArray))
      }
    Bridge.column(NearestCentroid(Bridge.expression(v),
      Literal(new GenericArrayData(rows.toArray[Any]), NearestCentroid.CentroidsType)))
  }

  // ---------------------------------------------------------------------
  // Random-hyperplane LSH for embeddings. The planes are pseudo-random but
  // fixed, derived from md5 of "hp<b>-<k>" so the oracle SQL can embed the
  // exact same literals (each coefficient is an integer - 127.5, exact in
  // binary64 and exact in its decimal SQL rendering).
  // ---------------------------------------------------------------------

  def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  val EmbDim = 64
  val NumPlanes = 4

  /** NumPlanes x EmbDim fixed pseudo-random hyperplane coefficients. */
  val hyperplanes: Array[Array[Double]] =
    Array.tabulate(NumPlanes, EmbDim) { (b, k) =>
      Integer.parseInt(md5hex(s"hp$b-$k").substring(0, 2), 16) - 127.5
    }

  /** LSH bucket id (0..2^NumPlanes-1) of a double-array embedding column. */
  def lshBucket(e: Column): Column =
    (0 until NumPlanes).map { b =>
      val plane = array(hyperplanes(b).toIndexedSeq.map(lit): _*)
      when(dot(e, plane) >= 0, lit(1 << b)).otherwise(lit(0))
    }.reduce(_ + _)

  // --------------- DuckDB twins (oracle SQL fragments) -------------------

  /** DuckDB: n-token shingle list from a token-list expression `tk`. */
  def oShingles(tk: String, n: Int): String =
    s"list_transform(range(1, len($tk)-${n - 2}), i -> array_to_string(($tk)[i:i+${n - 1}], ' '))"

  def oSeededMd5(seed: Int, x: String): String = s"md5('$seed|' || $x)"

  def oMinhash(sh: String, seed: Int): String =
    s"list_min(list_transform($sh, x -> ${oSeededMd5(seed, "x")}))"

  def oSimhashVote(tk: String, b: Int): String =
    s"list_sum(list_transform($tk, w -> CASE WHEN substr(${oSeededMd5(b, "w")},1,1) >= '8' THEN 1 ELSE -1 END))"

  def oJaccard(a: String, b: String): String =
    s"CAST(len(list_distinct(list_intersect($a, $b))) AS DOUBLE) / len(list_distinct(list_concat($a, $b)))"

  /** DuckDB: dot of a DOUBLE[] expression with a fixed plane (1-indexed). */
  def oPlaneDot(e: String, b: Int): String = {
    val litArr = hyperplanes(b).mkString("[", ", ", "]")
    s"list_sum(list_transform(range(1, ${EmbDim + 1}), k -> ($e)[k] * ($litArr)[k]))"
  }

  def oLshBucket(e: String): String =
    (0 until NumPlanes).map { b =>
      s"(CASE WHEN ${oPlaneDot(e, b)} >= 0 THEN ${1 << b} ELSE 0 END)"
    }.mkString(" + ")

  def oDot(a: String, b: String): String =
    s"list_sum(list_transform(range(1, ${EmbDim + 1}), k -> ($a)[k] * ($b)[k]))"

  def oNorm(a: String): String =
    s"sqrt(list_sum(list_transform($a, x -> x * x)))"

  def oCosine(a: String, b: String): String =
    s"(${oDot(a, b)} / (${oNorm(a)} * ${oNorm(b)}))"
}
