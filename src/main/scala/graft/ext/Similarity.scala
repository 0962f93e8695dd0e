package graft.ext

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Brute-force cosine is the correctness baseline (and the oracle); the
  * LSH-bucketed variant (signed random projections) is the 100 TB path:
  * signatures are narrow per-row work, candidates come from an equi-join on
  * signature bands, and exact cosine is computed only for candidates.
  */
object Similarity {

  /** Sum of elementwise products in double precision, left-to-right — the
    * deterministic sequential fold both engines can reproduce. Backed by the
    * codegen expression [[graft.functions.FloatVectorDot]]; requires
    * `GraftFunctions.register` (done by Tables.load / GraftSession.tune).
    */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def norm(v: Column): Column = sqrt(dot(v, v))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** A vector participates in cosine similarity only with a positive
    * FINITE norm. Zero norm has no direction (0/0 — the long-documented
    * drop). An Inf or NaN norm — ONE corrupt float32-overflow component
    * upstream — is worse than undefined: every cosine against it is NaN,
    * and `graft_topk`'s NaN-greatest ordering would rank the corrupt
    * vector the #1 neighbor of EVERY query (and the `dot >= t·na·nb`
    * threshold form would admit Inf pairs). Under Spark's NaN-greatest
    * comparison semantics `nrm < Infinity` excludes both Inf and NaN.
    * Dropping (not raising) is deliberate, matching the zero-norm stance:
    * one corrupt vector must not kill a 100 TB job; the kernels that
    * RAISE (Ncm, graft_dot's dim check) guard MODEL inputs, not corpus
    * rows.
    */
  private def definedCosine(nrm: Column): Column =
    nrm > 0 && nrm < lit(Double.PositiveInfinity)

  /** Ranks each query's scored candidates down to k via the bounded
    * [[graft.functions.TopKByScore]] aggregate — partial k-element buffers
    * combine map-side, the shuffle carries queries × k rows, and the full
    * candidate set is NEVER sorted (the window/row_number formulation this
    * replaces sorts every candidate per query). Output order and tie-break
    * are bit-identical to `row_number() OVER (cos DESC, nbr_id ASC)`.
    */
  private def topKRank(scored: DataFrame, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(scored.sparkSession)
    ranked(scored.groupBy("query_id")
      .agg(call_function("graft_topk", col("cos"), col("nbr_id"), lit(k)).as("tk")))
  }

  /** (query_id, tk) → one (query_id, rank, nbr_id, cos) row per entry. */
  private def ranked(tk: DataFrame): DataFrame =
    tk.select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "s")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("s.nbr_id").as("nbr_id"), col("s.cos").as("cos"))

  /** The shortlist-then-re-rank rule of [[pqTopK]] and [[ivfPqQuery]], in
    * ONE bounded aggregate over (query, candidate) rows carrying
    * (query_id, id, lut, codes, qnrm, nrm, qv, v): per query the
    * `overfetch` best candidates by ADC cosine (`graft_pq_adc`, codegen)
    * form the shortlist, each admitted candidate carries its exact cosine
    * dot(qv, v) / (qnrm·nrm) — computed only on admission — and the top k
    * by exact cosine come out in [[topKRank]]'s shape. Both norms are
    * [[normOf]], the same fold as `norm(col)`, so every cosine is
    * bit-equal to the one [[bruteForceTopK]] computes for the pair. No
    * exchange keys on the candidate id.
    */
  private def adcTopK(cands: DataFrame, k: Int, overfetch: Int): DataFrame =
    ranked(cands
      .select(col("query_id"), col("id").as("nbr_id"), col("qv"), col("v"), col("qnrm"), col("nrm"),
        (call_function("graft_pq_adc", col("lut"), col("codes")) /
          (col("qnrm") * col("nrm"))).as("adc_cos"))
      .groupBy("query_id")
      .agg(call_function("graft_topk", col("adc_cos"), col("nbr_id"), lit(overfetch),
        dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")), lit(k)).as("tk")))

  /** Brute-force cosine top-k neighbors for each query row. Zero-norm (and
    * null, Inf/NaN-norm) vectors are excluded on both sides — their cosine
    * is undefined or NaN-poisoning ([[definedCosine]]) — so no NaN/null
    * score ever reaches the top-k aggregate. Norms are computed ONCE PER
    * ROW below the join: the previous
    * per-pair `norm(qv)·norm(cv)` ran three O(dim) kernels per candidate
    * on this O(n²) path instead of one.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val c = corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("cv"),
        norm(col(vecCol)).as("cn"))
      .filter(definedCosine(col("cn")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        norm(col(vecCol)).as("qn"))
      .filter(definedCosine(col("qn")))
    val scored = q.join(c, col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    topKRank(scored, k)
  }

  /** Squared-distance argmin over the (broadcast) codebook on the
    * `off ..< off + c(0).length` slice of `v` (no sub-vector is
    * materialized) — the one kernel every IVF and PQ stage shares.
    */
  private[graft] def nearest(c: Array[Array[Double]], v: Array[Float], off: Int = 0): Int = {
    var best = 0; var bestD = Double.MaxValue
    var ci = 0
    while (ci < c.length) {
      val d = sqDist(c(ci), v, off)
      if (d < bestD) { bestD = d; best = ci }
      ci += 1
    }
    best
  }

  private def sqDist(cc: Array[Double], v: Array[Float], off: Int): Double = {
    var d = 0.0; var j = 0
    while (j < cc.length) { val t = cc(j) - v(off + j); d += t * t; j += 1 }
    d
  }

  /** The one vector intake of the IVF and PQ entries: (id, v) rows with
    * the id cast to long and zero/Inf/NaN-norm and null vectors dropped
    * ([[definedCosine]], the [[bruteForceTopK]] stance), so no trainer
    * sees an undefined direction and no top-k aggregate a NaN or null
    * score. The long cast would silently NULL a non-integral id under
    * non-ANSI SQL (every query-vs-corpus filter then drops every
    * candidate and the operator "finds nothing" with no error), so the
    * id type is checked first ([[Guards.requireIntegralId]]).
    */
  private[graft] def vectors(df: DataFrame, idCol: String, vecCol: String,
                             context: String): Dataset[(Long, Array[Float])] = {
    val spark = df.sparkSession
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    Guards.requireIntegralId(df, idCol, context)
    df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .filter(definedCosine(norm(col("v"))))
      .as[(Long, Array[Float])]
  }

  /** The one deterministic Lloyd k-means trainer of the IVF and PQ
    * indexes. Each `(m, k)` family cuts the vector into `m` equal
    * coordinate slices and trains one codebook of up to `k` centroids per
    * slice: IVF is `(1, nClusters)`, PQ is `(m, ksub)`, and
    * [[ivfPqBuild]] passes both, so its two models train in the same
    * jobs. Returns, per family, the per-slice codebooks.
    *
    *  - Sample: at 100 TB, training reads a bounded ~100 000-vector
    *    id-hash sample (one count job); centroid quality converges long
    *    before the corpus is exhausted, and a codebook is k×dim.
    *  - Init: the lowest-id sample rows (one collect), the first `k` of
    *    them per family, so a sample smaller than `k` trains a shorter
    *    valid codebook. The dimension is read off these rows.
    *  - Iteration: ONE narrow job of per-partition partial sums, per slice
    *    [k][dsub+1] doubles (the count rides the last slot) — the
    *    sufficient statistics, whatever the sample size — merged
    *    driver-side. A cluster that captured nothing keeps its centroid.
    *
    * Every accumulator slot sums the same values in the same order
    * whatever else trains beside it, so a joint run is bit-equal to
    * separate ones (PropertySpec pins each slice against a sequential
    * Lloyd model).
    */
  private[graft] def lloyd(vecs: Dataset[(Long, Array[Float])], iters: Int, context: String,
                           families: (Int, Int)*): Seq[Array[Array[Array[Double]]]] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val cap = 100000L
    val n = vecs.count()
    val train =
      if (n <= cap) vecs
      else vecs.filter(r => (r._1 * 0x9E3779B97F4A7C15L >>> 40) % math.max(1L, n / cap) == 0)
    val initRows = train.orderBy(col("id")).limit(families.map(_._2).max).collect()
    // loud, named failure instead of a bare index crash: an all-zero-norm
    // (or simply empty) corpus reaches here with nothing to train on
    require(families.forall(f => math.min(f._2, initRows.length) > 0),
      s"$context requires a non-empty training set (is the corpus empty, " +
        "or were all vectors zero-norm?)")
    val dim = initRows(0)._2.length
    // the strides below are fixed by this dimension: a longer vector would
    // silently train on its prefix, a shorter one add into the wrong slots
    def checkRow(id: Long, v: Array[Float]): Unit =
      if (v.length != dim) throw new IllegalArgumentException(
        s"$context: vector id=$id has dimension ${v.length}, expected $dim")
    initRows.foreach { case (id, v) => checkRow(id, v) }
    val init = initRows.map(_._2)
    families.foreach { case (m, _) =>
      require(dim % m == 0, s"$context: dim $dim must be divisible by m $m")
    }
    // one entry per slice, families in order: offset, width, accumulator base
    val offs = families.flatMap { case (m, _) => (0 until m).map(_ * (dim / m)) }.toArray
    val widths = families.flatMap { case (m, _) => Seq.fill(m)(dim / m) }.toArray
    var books: Array[Array[Array[Double]]] =
      families.flatMap { case (m, k) => Seq.fill(m)(math.min(k, init.length)) }.toArray
        .zipWithIndex.map { case (k, s) =>
          init.take(k).map(v => Array.tabulate(widths(s))(j => v(offs(s) + j).toDouble))
        }
    val bases = books.indices.scanLeft(0)((b, s) => b + books(s).length * (widths(s) + 1)).toArray
    for (_ <- 1 to iters) {
      val bc = spark.sparkContext.broadcast(books)
      val partials = train.mapPartitions { it =>
        val b = bc.value
        var acc: Array[Double] = null
        it.foreach { case (id, v) =>
          checkRow(id, v)
          if (acc == null) acc = new Array[Double](bases(b.length))
          var s = 0
          while (s < b.length) {
            val w = widths(s)
            val base = bases(s) + nearest(b(s), v, offs(s)) * (w + 1)
            var j = 0
            while (j < w) { acc(base + j) += v(offs(s) + j); j += 1 }
            acc(base + w) += 1
            s += 1
          }
        }
        if (acc == null) Iterator.empty else Iterator.single(acc)
      }.collect()
      if (partials.nonEmpty) {
        val tot = new Array[Double](bases(books.length))
        partials.foreach { p =>
          var i = 0; while (i < p.length) { tot(i) += p(i); i += 1 }
        }
        books = books.zipWithIndex.map { case (book, s) =>
          val w = widths(s)
          Array.tabulate(book.length) { ci =>
            val base = bases(s) + ci * (w + 1)
            val cnt = tot(base + w)
            if (cnt > 0) Array.tabulate(w)(j => tot(base + j) / cnt) else book(ci)
          }
        }
      }
    }
    val ends = families.scanLeft(0)(_ + _._1)
    families.indices.map(f => books.slice(ends(f), ends(f + 1)))
  }

  /** [[lloyd]]'s full-width form: one IVF codebook of up to `nClusters`
    * centroids. Shared by the one-shot [[ivfTopK]], the persisted
    * [[ivfBuild]] and the offline [[graft.tools.IvfCentroidsTrain]], so
    * all three train bit-identical codebooks.
    */
  private[graft] def ivfCentroids(vecs: Dataset[(Long, Array[Float])], nClusters: Int,
                                  iters: Int, context: String): Array[Array[Double]] =
    lloyd(vecs, iters, context, 1 -> nClusters).head.head

  /** [[nearest]] with the loud per-row dimension gate every ASSIGNMENT
    * path needs: a shorter vector would silently compute prefix distances
    * (wrong cluster, recall hole), a longer one would AIOOBE bare-named.
    * The trainer's raise covers only its sample.
    */
  private def nearestChecked(c: Array[Array[Double]], id: Long, v: Array[Float],
                             context: String): Int = {
    checkDim(c, id, v, context)
    nearest(c, v)
  }

  private def checkDim(c: Array[Array[Double]], id: Long, v: Array[Float], context: String): Unit =
    if (v.length != c(0).length) throw new IllegalArgumentException(
      s"$context: vector id=$id has dimension ${v.length}, expected ${c(0).length}")

  /** The `nProbe` nearest centroids by squared distance — ONE definition of
    * the probe-selection rule (ties: (distance, cluster index), exactly the
    * `dists.sorted` tuple order every probe path used), with the
    * [[nearestChecked]] dimension gate.
    */
  private def nearestProbes(c: Array[Array[Double]], id: Long, v: Array[Float],
                            nProbe: Int, context: String): Seq[Int] = {
    checkDim(c, id, v, context)
    c.indices.map(ci => (sqDist(c(ci), v, 0), ci)).sorted.take(nProbe).map(_._2)
  }

  /** Each vector routed to its nearest centroid, as (id, v, cluster) rows:
    * the one assignment map of [[ivfTopK]], [[ivfBuild]] and [[ivfAppend]].
    */
  private def assigned(vecs: Dataset[(Long, Array[Float])],
                       cents: Broadcast[Array[Array[Double]]], context: String): DataFrame = {
    import vecs.sparkSession.implicits._
    vecs.map { case (id, v) => (id, v, nearestChecked(cents.value, id, v, context)) }
      .toDF("id", "v", "cluster")
  }

  /** [[assigned]] plus each vector's PQ codes and exact norm, as
    * (id, v, cluster, codes, nrm) rows: the one assignment map of
    * [[ivfPqBuild]] and [[ivfPqAppend]].
    */
  private def assignedPq(vecs: Dataset[(Long, Array[Float])],
                         cents: Broadcast[Array[Array[Double]]], pq: Broadcast[PqModel],
                         context: String): DataFrame = {
    import vecs.sparkSession.implicits._
    vecs.map { case (id, v) =>
      (id, v, nearestChecked(cents.value, id, v, context), encodeOne(pq.value, id, v), normOf(v))
    }.toDF("id", "v", "cluster", "codes", "nrm")
  }

  /** Widen a narrow query side before the cluster fan-out flatMap (the
    * r16 single-task-scoring fix, made CONDITIONAL in r17): a bounded
    * query batch arriving as one small file hands the whole scoring
    * stage downstream of the fan-out a single task whenever the
    * corpus/assignments side broadcasts (measured r16: ~4M dot products
    * single-threaded, 3.2 s where 32-wide reads sub-second). But an
    * ALREADY-WIDE query side — x38's declared shape probes with the
    * whole corpus — must not pay a gratuitous corpus-wide round-robin
    * exchange it never needed. Widen only when below the session
    * parallelism; the partition count is read off `ds`'s own planned
    * [[org.apache.spark.sql.execution.QueryExecution]] and no job runs.
    */
  private[graft] def widenIfNarrow[T](ds: org.apache.spark.sql.Dataset[T])
      : org.apache.spark.sql.Dataset[T] = {
    val p = ds.sparkSession.sparkContext.defaultParallelism
    // a STREAMING frame admits no partition probe before execution (its
    // sources resolve per batch); every current caller wraps streams in
    // foreachBatch, but if one ever doesn't, keep the r16
    // unconditional-widening behavior rather than crash the stream
    if (ds.isStreaming) ds.repartition(p)
    else {
      val qe = ds.queryExecution
      // AQE's initial plan carries the exchanges; nothing below executes it
      val plan = qe.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case pl => pl
      }
      val shuffled = plan.exists(n =>
        n.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange] ||
        n.expressions.exists(_.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]])))
      // building the RDD of a plan with exchanges or subqueries runs them
      // under AQE (r17 VERDICT item 3), so such a side reports its last
      // exchange's partitioning instead (unknown = 0 counts as wide); a
      // shuffle-free plan builds its RDD without a job
      val narrow =
        if (shuffled) (1 until p).contains(plan.outputPartitioning.numPartitions)
        else qe.toRdd.getNumPartitions < p
      if (narrow) ds.repartition(p) else ds
    }
  }

  /** The exact-cosine candidates of an IVF probe: each query fans out to
    * its `nProbe` nearest clusters, joins the (id, v, cluster) assignments
    * on cluster, and scores every candidate but itself. Shared by
    * [[ivfTopK]] (in-memory assignments) and [[ivfProbeScores]] (the
    * cluster-bucketed table, which the join then reads with no exchange
    * on the corpus side). Norms are computed once per row BELOW the join,
    * not per candidate, and a narrow query side widens before the fan-out
    * ([[widenIfNarrow]]): a cached or one-file source would otherwise
    * hand the scoring stage a single task whenever the assignments side
    * broadcasts, while x38's declared shape probes with the WHOLE corpus
    * and must not pay a corpus-wide round-robin exchange.
    */
  private def probeScores(queries: Dataset[(Long, Array[Float])], assignments: DataFrame,
                          cents: Broadcast[Array[Array[Double]]], nProbe: Int,
                          context: String): DataFrame = {
    import queries.sparkSession.implicits._
    val probes = widenIfNarrow(queries)
      .flatMap { case (id, v) =>
        nearestProbes(cents.value, id, v, nProbe, context).map(ci => (id, v, ci))
      }.toDF("query_id", "qv", "cluster")
      .withColumn("qn", norm(col("qv")))
    probes.join(assignments.withColumn("vn", norm(col("v"))), "cluster")
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("nbr_id"),
        (dot(col("qv"), col("v")) / (col("qn") * col("vn"))).as("cos"))
  }

  /** IVF-flat approximate top-k — the 100 TB ANN path. A small k-means
    * codebook is trained ([[ivfCentroids]]), every vector is assigned to
    * its nearest centroid, and each query probes only the `nProbe`
    * nearest clusters — candidate count scales with `nProbe / nClusters`,
    * not with corpus size. Exact cosine re-ranks the candidates, so
    * precision is 1; recall depends on nProbe. Every vector is both a
    * query and a corpus row (self-pairs excluded).
    *
    * The vectors stay cached for the returned (lazy) plan, which scans
    * them twice more (assignment + probes); release via
    * graft.Caching.release once the caller has materialized the result.
    */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
              nClusters: Int = 16, nProbe: Int = 6, iters: Int = 5): DataFrame = {
    // training rescans the vectors per Lloyd iteration: cache once
    val vecs = graft.Caching.scoped(vectors(df, idCol, vecCol, "ivfTopK"))
    val bc = df.sparkSession.sparkContext.broadcast(
      ivfCentroids(vecs, nClusters, iters, "ivfTopK"))
    topKRank(probeScores(vecs, assigned(vecs, bc, "ivfTopK"), bc, nProbe, "ivfTopK"), k)
  }

  /** The persisted IVF index: a 100 TB corpus trains its codebook ONCE and
    * serves many query batches, where [[ivfTopK]] retrains and re-assigns
    * per call.
    *
    *  - `codebookTable` (cluster, centroid): nClusters rows — broadcast to
    *    probes at query time.
    *  - `assignmentsTable` (id, v, cluster), BUCKETED by cluster: the probe
    *    join reads it pre-partitioned — no exchange on the corpus side, so
    *    query cost scales with the query batch × probed fraction, never
    *    with corpus size (PlanSpec pins the plan).
    */
  final case class IvfIndex(assignmentsTable: String, codebookTable: String,
                            numBuckets: Int = 16)

  /** Trains the codebook and writes the index tables (one pass over the
    * corpus after training). Rebuild cadence is an ops decision — the usual
    * IVF contract: appends degrade recall slowly as the vector distribution
    * drifts from the codebook, never correctness of the re-rank.
    */
  def ivfBuild(df: DataFrame, idCol: String, vecCol: String, index: IvfIndex,
               nClusters: Int = 16, iters: Int = 5): Unit =
    ivfBuildWith(df, idCol, vecCol, index, None, nClusters, iters)

  /** [[ivfBuild]] with a FROZEN pre-trained codebook instead of in-line
    * k-means — the production deployment shape (a codebook is trained
    * once offline and served frozen; [[ivfAppend]] already documents that
    * appends never retrain). Because every downstream step (assignment,
    * probe selection, exact re-rank) is then deterministic arithmetic
    * over the centroid LITERALS, a partial-probe query becomes exactly
    * DuckDB-transcribable — the x67 oracle, where trained-codebook
    * configurations are only verifiable in the full-probe ≡ brute-force
    * configuration (x31/x38).
    */
  def ivfBuildFrozen(df: DataFrame, idCol: String, vecCol: String,
                     index: IvfIndex, centroids: Array[Array[Double]]): Unit = {
    require(centroids.nonEmpty && centroids.forall(_.length == centroids(0).length),
      "ivfBuildFrozen: centroids must be non-empty and rectangular")
    ivfBuildWith(df, idCol, vecCol, index, Some(centroids))
  }

  /** Loads a frozen codebook from a classpath resource (TSV: `cluster
    * <TAB> space-separated components`, one line per centroid, cluster
    * ids 0..k-1 in order) — committed fixtures trained once by
    * [[graft.tools.IvfCentroidsTrain]]. The BPE-fixture pattern: the
    * engine and the GENERATED oracle SQL read the same resource, so the
    * two sides cannot drift. Components are parsed with
    * `java.lang.Double.parseDouble` of the trainer's `Double.toString`
    * output — an exact round trip, so the served centroids are
    * bit-identical to the trained ones.
    */
  def frozenCentroids(resource: String): Array[Array[Double]] = {
    val in = getClass.getResourceAsStream(resource)
    require(in != null, s"frozenCentroids: classpath resource '$resource' not found")
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(_.nonEmpty).toArray
      finally in.close()
    require(lines.nonEmpty, s"frozenCentroids: '$resource' is empty")
    val cents = lines.zipWithIndex.map { case (ln, i) =>
      val parts = ln.split("\t", 2)
      require(parts.length == 2,
        s"frozenCentroids: malformed line (want id<TAB>components): '$ln'")
      // name the resource and line on ANY parse failure — a bare
      // NumberFormatException from a corrupt committed fixture gives the
      // operator nothing to act on (round-17 sweep)
      try (parts(0).toInt, parts(1).split(" ").map(java.lang.Double.parseDouble))
      catch {
        case e: NumberFormatException => throw new IllegalArgumentException(
          s"frozenCentroids: unparseable number in '$resource' line $i: " +
            s"'$ln' (${e.getMessage})", e)
      }
    }
    cents.map(_._1).zipWithIndex.foreach { case (id, i) =>
      require(id == i, s"frozenCentroids: cluster ids must be 0..k-1 in " +
        s"order; line $i has id $id")
    }
    val out = cents.map(_._2)
    require(out.forall(_.length == out(0).length),
      s"frozenCentroids: ragged centroid dimensions in '$resource'")
    require(out.forall(_.forall(d => !d.isNaN && !d.isInfinite)),
      s"frozenCentroids: non-finite component in '$resource'")
    out
  }

  private def ivfBuildWith(df: DataFrame, idCol: String, vecCol: String,
                           index: IvfIndex, frozen: Option[Array[Array[Double]]],
                           nClusters: Int = 16, iters: Int = 5): Unit =
      graft.Caching.scope {
    // Caching.scope, not session-global release: the build materializes
    // everything it persists before returning, and a global release here
    // would unpersist caches the CALLER still has in flight
    val spark = df.sparkSession
    import spark.implicits._
    val vecs = graft.Caching.scoped(vectors(df, idCol, vecCol, "ivfBuild"))
    val cents = frozen.getOrElse(ivfCentroids(vecs, nClusters, iters, "ivfBuild"))
    val bc = spark.sparkContext.broadcast(cents)
    // the two index tables are independent consumers of driver-resident
    // `cents` + the cached vectors, writing to DISTINCT table paths — one
    // concurrent action set, so the tiny codebook write's fixed job+commit
    // latency rides inside the assignments pass (the ivfPqBuild/x33
    // convention; same-table APPENDS must never fold this way — two jobs
    // share one _temporary staging root and the first commit deletes it)
    ConcurrentActions.run(Seq(
      () => cents.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
        .toDF("cluster", "centroid")
        .write.mode("overwrite").format("parquet").saveAsTable(index.codebookTable),
      () => assigned(vecs, bc, "ivfBuild")
        .write.mode("overwrite").format("parquet")
        .bucketBy(index.numBuckets, "cluster")
        .saveAsTable(index.assignmentsTable)))
  }

  /** The probe join against the persisted index ([[probeScores]] over the
    * cluster-bucketed assignments table, so the corpus side needs no
    * exchange), routed by the codebook's frozen broadcast, loaded once
    * per table version ([[FrozenModels]]).
    */
  private[graft] def ivfProbeScores(queries: DataFrame, idCol: String, vecCol: String,
                                    index: IvfIndex, nProbe: Int): DataFrame = {
    val spark = queries.sparkSession
    // an ivfCompact swap that crashed between DROP and RENAME leaves the
    // corpus only under its compaction sibling — finish it rather than
    // failing the read
    Dedup.finishCrashedSwap(spark, index.assignmentsTable)
    val bc = codebookModel(spark, index.codebookTable, ivfMissing("ivfQuery", index))
    probeScores(vectors(queries, idCol, vecCol, "ivfProbeScores"),
      spark.table(index.assignmentsTable), bc, nProbe, "ivfProbeScores")
  }

  /** Approximate top-k against a built [[IvfIndex]] — precision 1 (exact
    * cosine re-rank via the bounded top-k aggregate), recall set by
    * `nProbe`; `nProbe = nClusters` probes everything and equals brute
    * force (the declared x31 oracle trick).
    */
  def ivfQuery(queries: DataFrame, idCol: String, vecCol: String,
               index: IvfIndex, k: Int, nProbe: Int = 6): DataFrame =
    topKRank(ivfProbeScores(queries, idCol, vecCol, index, nProbe), k)

  /** The session-wide cache of every built index's FROZEN models (IVF
    * centroids, PQ codebooks): one broadcast per table VERSION per
    * SparkContext, shared by every append, query and stream micro-batch.
    * Only a rebuild rewrites these tables, and its overwrite drops and
    * recreates them, so the catalog `createTime` names the version; a
    * newer version replaces the cached broadcast and destroys the old one.
    */
  private object FrozenModels {
    private val byContext = new java.util.WeakHashMap[org.apache.spark.SparkContext,
      java.util.HashMap[String, (Long, org.apache.spark.broadcast.Broadcast[_])]]()

    /** `table`'s current version as a broadcast, `load`ed on a miss. */
    def apply[T: scala.reflect.ClassTag](spark: org.apache.spark.sql.SparkSession, table: String,
                                         missing: => String)(load: => T)
        : org.apache.spark.broadcast.Broadcast[T] = {
      val catalog = spark.sessionState.catalog
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
      require(catalog.tableExists(ident), missing)
      // version before contents: a racing rebuild costs one extra reload
      val meta = catalog.getTableMetadata(ident)
      val key = meta.identifier.unquotedString
      byContext.synchronized {
        val tables = byContext.computeIfAbsent(spark.sparkContext, _ => new java.util.HashMap())
        val cached = tables.get(key)
        if (cached != null && cached._1 == meta.createTime)
          cached._2.asInstanceOf[org.apache.spark.broadcast.Broadcast[T]]
        else {
          // this session may still hold an older version's file listing (a
          // running stream's cloned session does after a rebuild elsewhere)
          catalog.refreshTable(ident)
          val bc = spark.sparkContext.broadcast(load)
          if (cached != null) cached._2.destroy()
          tables.put(key, (meta.createTime, bc))
          bc
        }
      }
    }
  }

  /** The IVF centroids of `codebookTable`, cluster-ordered ([[FrozenModels]]). */
  private def codebookModel(spark: org.apache.spark.sql.SparkSession, codebookTable: String,
                            missing: => String)
      : org.apache.spark.broadcast.Broadcast[Array[Array[Double]]] =
    FrozenModels(spark, codebookTable, missing) {
      import spark.implicits._
      spark.table(codebookTable).as[(Int, Array[Double])].collect().sortBy(_._1).map(_._2)
    }

  private def ivfMissing(context: String, index: IvfIndex): String =
    s"$context: build the index first (ivfBuild) - missing " +
      s"${index.codebookTable} and/or ${index.assignmentsTable}"

  /** Appends a batch of new vectors to a built [[IvfIndex]] — continuous
    * embedding ingest without retraining: each vector is assigned to its
    * nearest centroid and appended to the cluster-bucketed assignments
    * table (the standard IVF append contract: recall degrades slowly as
    * the vector distribution drifts from the codebook — rebuild cadence is
    * an ops decision — while re-rank precision never does). Zero-norm/null
    * vectors drop (the ivfBuild stance); appended ids must be new (the
    * usual changelog contract). The codebook loads once per table version
    * per SparkContext ([[FrozenModels]]): after the first call against a
    * build an append is one write job, and the next call after a rebuild
    * routes by the new codebook.
    *
    * Replay safety: an at-least-once replay re-appends its assignment
    * rows; the probe join then scores the same (query, neighbor) twice
    * with the same cosine and `graft_topk` collapses exactly-equal
    * (score, id) duplicates, so query results are unaffected until
    * [[ivfCompact]] sheds the duplicated rows durably.
    */
  def ivfAppend(batch: DataFrame, idCol: String, vecCol: String, index: IvfIndex,
                checks: TableChecks = new TableChecks): Unit = {
    val spark = batch.sparkSession
    val vecs = vectors(batch, idCol, vecCol, "ivfAppend")
    // single-writer contract: no append while ivfCompact rewrites the
    // assignments ([[StateLease]]; memoized per stream via [[TableChecks]],
    // which also finishes a swap that crashed before this stream started)
    checks.ensureWritable(spark, index.assignmentsTable)
    val missing = ivfMissing("ivfAppend", index)
    require(checks.exists(spark, index.codebookTable) &&
      checks.exists(spark, index.assignmentsTable), missing)
    assigned(vecs, codebookModel(spark, index.codebookTable, missing), "ivfAppend")
      .write.mode("append").format("parquet")
      .bucketBy(index.numBuckets, "cluster")
      .saveAsTable(index.assignmentsTable)
  }

  /** Routine maintenance for an appended-to [[IvfIndex]]: folds the
    * assignments table (one append = numBuckets files) back to one file
    * per bucket with the same bucket spec and sheds replay-duplicated
    * rows. Run between micro-batches or on a stopped stream.
    */
  def ivfCompact(spark: org.apache.spark.sql.SparkSession, index: IvfIndex): Unit =
    Dedup.compactBucketedTable(spark, index.assignmentsTable, index.numBuckets,
      Seq("cluster"))

  /** Streaming embedding ingest into a built index: [[ivfAppend]] wired
    * into `foreachBatch`; `compactEvery = N` runs [[ivfCompact]] after
    * every Nth batch (0 = caller manages compaction). Caller sets
    * trigger/checkpoint and starts. The codebook loads once per table
    * version ([[ivfAppend]]), so later batches run only their write job;
    * a rebuild is picked up by the NEXT batch of a running stream (it used
    * to reach only a newly started stream).
    */
  def ivfStream(vecs: DataFrame, idCol: String, vecCol: String, index: IvfIndex,
                compactEvery: Int = 0): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // one maintenance-check memo per stream ([[TableChecks]]: the lease is
    // asserted every batch — these appends ARE the data, so an
    // out-of-process compaction grabbing the lease mid-stream must never
    // find even one unleased append to drop in its swap)
    TableChecks.foreachBatch(vecs, compactEvery)(
      (batch, _, checks) => ivfAppend(batch, idCol, vecCol, index, checks))(
      (spark, _) => ivfCompact(spark, index))
  }

  // ------------------------------------------------------------------
  // Product quantization (Jégou et al., PAMI 2011)

  /** Per-subspace PQ codebooks: `codebooks(sub)(code)` is the dsub-dim
    * centroid for `code` in subspace `sub`. Memory per corpus vector drops
    * from 4·dim bytes (float) to m bytes + one stored norm — the
    * compression that lets a 100 TB embedding corpus's candidate scan fit
    * in a fraction of the I/O, with [[pqTopK]]'s exact re-rank restoring
    * full precision on the shortlist.
    */
  final case class PqModel(dim: Int, m: Int, ksub: Int,
                           codebooks: Array[Array[Array[Double]]]) {
    def dsub: Int = dim / m
  }

  /** Trains one deterministic k-means codebook per subspace: the shared
    * [[lloyd]] trainer over `m` equal slices, so PQ and IVF codebooks come
    * from the same bit-identical kernel. `ksub` ≤ 256 so a code is one
    * byte.
    */
  def pqTrain(df: DataFrame, idCol: String, vecCol: String,
              m: Int = 8, ksub: Int = 16, iters: Int = 5): PqModel = graft.Caching.scope {
    // training rescans the sample per Lloyd iteration: cache once (scope-local —
    // fully consumed before return)
    val vecs = graft.Caching.scoped(vectors(df, idCol, vecCol, "pqTrain"))
    pqModelOf(lloyd(vecs, iters, "pqTrain", pqSlices(m, ksub, "pqTrain")).head)
  }

  /** The PQ family of a [[lloyd]] run, `m` slices of `ksub` centroids,
    * with the one-byte code bound checked up front.
    */
  private def pqSlices(m: Int, ksub: Int, context: String): (Int, Int) = {
    require(ksub >= 1 && ksub <= 256, s"$context: ksub must be in [1, 256], got $ksub")
    m -> ksub
  }

  private def pqModelOf(books: Array[Array[Array[Double]]]): PqModel =
    PqModel(books.length * books(0)(0).length, books.length, books(0).length, books)

  /** One vector's m nearest-subspace-centroid codes. Loud per-row
    * dimension gate (the pqLuts query-side rule, applied to the CORPUS
    * side): the subspace slices would crash bare-named on a shorter vector
    * and encode a longer one's prefix into well-formed WRONG codes — and pqTrain's
    * raise only scans the training SAMPLE, so out-of-sample rows need
    * their own check.
    */
  private def encodeOne(model: PqModel, id: Long, v: Array[Float]): Array[Byte] = {
    if (v.length != model.dim) throw new IllegalArgumentException(
      s"pq encode: vector id=$id has dimension ${v.length}, expected model dim=${model.dim}")
    val codes = new Array[Byte](model.m)
    var sub = 0
    while (sub < model.m) {
      codes(sub) = nearest(model.codebooks(sub), v, sub * model.dsub).toByte
      sub += 1
    }
    codes
  }

  /** One query's flattened m×ksub inner-product ADC lookup table — ONE
    * definition shared by [[pqLuts]] and [[ivfPqQuery]]. Loud per-row raise
    * on a wrong-dimension query: a longer one would build the LUT from
    * its PREFIX (plausible wrong ADC shortlist), a shorter one crashes
    * opaquely mid-loop.
    */
  private def buildLut(mm: PqModel, id: Long, v: Array[Float]): Array[Double] = {
    if (v.length != mm.dim) throw new IllegalArgumentException(
      s"pq query id=$id has dimension ${v.length}, expected model dim=${mm.dim}")
    val lut = new Array[Double](mm.m * mm.ksub)
    var sub = 0
    while (sub < mm.m) {
      val book = mm.codebooks(sub)
      var c = 0
      while (c < book.length) {
        val cent = book(c)
        var acc = 0.0
        var j = 0
        while (j < cent.length) { acc += v(sub * mm.dsub + j).toDouble * cent(j); j += 1 }
        lut(sub * mm.ksub + c) = acc
        c += 1
      }
      sub += 1
    }
    lut
  }

  /** Same double left-to-right order as norm(col) = sqrt(graft_dot(v,v)). */
  private def normOf(v: Array[Float]): Double = {
    var nn = 0.0
    var j = 0
    while (j < v.length) { nn += v(j).toDouble * v(j).toDouble; j += 1 }
    math.sqrt(nn)
  }

  /** Encode each corpus vector as m one-byte nearest-centroid codes plus
    * its exact norm (the cosine denominator PQ cannot reconstruct), next
    * to the vector itself for the exact re-rank: (id, v, codes binary,
    * nrm). Zero-norm vectors are excluded — the [[bruteForceTopK]]
    * undefined-cosine stance.
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String, model: PqModel): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val vecs = vectors(df, idCol, vecCol, "pqEncode")
    val bc = spark.sparkContext.broadcast(model)
    vecs.map { case (id, v) => (id, v, encodeOne(bc.value, id, v), normOf(v)) }
      .toDF("id", "v", "codes", "nrm")
  }

  /** One flattened m×ksub inner-product lookup table per query:
    * lut[sub·ksub + c] = <q_sub, codebook(sub)(c)> — the per-query setup
    * cost that makes each candidate score m array reads
    * ([[graft.functions.PqAdcScore]]) — with the query's norm and vector
    * for the exact re-rank: (query_id, lut, qnrm, qv).
    */
  private def pqLuts(queries: DataFrame, idCol: String, vecCol: String,
                     model: PqModel): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    vectors(queries, idCol, vecCol, "pqTopK")
      .map { case (id, v) => (id, buildLut(bc.value, id, v), normOf(v), v) }
      .toDF("query_id", "lut", "qnrm", "qv")
  }

  /** PQ-ADC approximate top-k with exact re-rank: corpus vectors compress
    * to m-byte codes, every (query, candidate) score is an m-entry table
    * lookup ([[graft.functions.PqAdcScore]], codegen), the per-query ADC
    * shortlist of `overfetch` ids comes from the bounded `graft_topk`
    * aggregate (map-side partials — the shuffle carries queries ×
    * partitions × overfetch entries, never the scored pairs), and exact
    * cosine re-ranks the shortlist to k. With `overfetch` ≥ corpus size
    * the shortlist is everything and the result equals [[bruteForceTopK]]
    * bit-for-bit (the oracle configuration); at production overfetch
    * (4–10×k) recall follows the PQ reconstruction quality (spec-pinned).
    *
    * Scale shape: the corpus side streams its encoded (id, v, codes, nrm)
    * rows through one broadcast nested-loop join against the tiny query
    * LUT table, and the shortlist and its exact re-rank both happen in the
    * one bounded aggregate of [[adcTopK]]: every pair pays an m-entry ADC
    * lookup, only shortlist admissions compute the O(dim) exact cosine
    * (every candidate row still carries its vector to the aggregate), and
    * no exchange ever touches the corpus side — there is no second corpus
    * pass to re-score the shortlist. Compose with [[ivfBuild]]-style
    * cluster routing to cut the scanned fraction too: PQ shrinks the work
    * per candidate, IVF shrinks candidates.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
             k: Int, m: Int = 8, ksub: Int = 16, overfetch: Int = 100,
             iters: Int = 5): DataFrame = {
    require(overfetch >= k, s"pqTopK: overfetch $overfetch must be >= k $k")
    Guards.requireIntegralId(corpus, idCol, "pqTopK")
    Guards.requireIntegralId(queries, idCol, "pqTopK")
    val model = pqTrain(corpus, idCol, vecCol, m, ksub, iters)
    val codes = pqEncode(corpus, idCol, vecCol, model)
    val luts = pqLuts(queries, idCol, vecCol, model)
    adcTopK(codes.join(broadcast(luts), col("query_id") =!= col("id")), k, overfetch)
  }

  /** The composed persisted index — IVF cluster routing (shrinks the
    * CANDIDATE set to nProbe/nClusters of the corpus) over PQ codes
    * (shrinks BYTES PER CANDIDATE to m+8): the standard IVFADC layout
    * (Jégou et al. 2011) and the shape a 100 TB embedding corpus actually
    * serves queries from. Three tables: the IVF codebook, the PQ
    * codebooks (m×ksub rows), and cluster-bucketed assignments carrying
    * (id, v, cluster, codes, nrm). A query reads the assignments ONCE:
    * the one bucketed scan that feeds the ADC join reads
    * (cluster, id, codes, nrm, v), so the exact vectors for the re-rank
    * come off the same rows as the codes (PlanSpec-pinned). The bytes
    * read are every row's codes and vector, once; a separate re-rank pass
    * would read the vectors a second time and, under the session's
    * broadcast threshold, ship all of them to every query.
    */
  final case class IvfPqIndex(assignmentsTable: String, codebookTable: String,
                              pqTable: String, numBuckets: Int = 16)

  /** Trains the IVF codebook AND the per-subspace PQ codebooks in one
    * [[lloyd]] run (the same sample, the same jobs), then writes the
    * three index tables in one encoding pass.
    */
  def ivfPqBuild(df: DataFrame, idCol: String, vecCol: String, index: IvfPqIndex,
                 nClusters: Int = 16, m: Int = 8, ksub: Int = 16,
                 iters: Int = 5): Unit = graft.Caching.scope {
    val spark = df.sparkSession
    import spark.implicits._
    val vecs = graft.Caching.scoped(vectors(df, idCol, vecCol, "ivfPqBuild"))
    val Seq(Array(cents), books) =
      lloyd(vecs, iters, "ivfPqBuild", 1 -> nClusters, pqSlices(m, ksub, "ivfPqBuild"))
    val pq = pqModelOf(books)
    val bcC = spark.sparkContext.broadcast(cents)
    val bcP = spark.sparkContext.broadcast(pq)
    // all THREE index tables are independent consumers of the trained
    // driver-resident models + the one cached vector set, each writing to
    // its own table path — one concurrent action set folds the two tiny
    // codebook commits' fixed job latencies inside the encoding pass
    ConcurrentActions.run(Seq(
      () => cents.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
        .toDF("cluster", "centroid")
        .write.mode("overwrite").format("parquet").saveAsTable(index.codebookTable),
      () => pq.codebooks.zipWithIndex.flatMap { case (book, sub) =>
          book.zipWithIndex.map { case (cent, code) => (sub, code, cent) }
        }.toSeq.toDF("sub", "code", "centroid")
        .write.mode("overwrite").format("parquet").saveAsTable(index.pqTable),
      () => assignedPq(vecs, bcC, bcP, "ivfPqBuild")
        .write.mode("overwrite").format("parquet")
        .bucketBy(index.numBuckets, "cluster")
        .saveAsTable(index.assignmentsTable)))
  }

  /** The PQ model of `pqTable` (m×ksub rows) ([[FrozenModels]]). */
  private def pqModel(spark: org.apache.spark.sql.SparkSession, pqTable: String,
                      missing: => String): org.apache.spark.broadcast.Broadcast[PqModel] =
    FrozenModels(spark, pqTable, missing) {
      import spark.implicits._
      val rows = spark.table(pqTable).as[(Int, Int, Array[Double])].collect()
      require(rows.nonEmpty, s"ivfPq: PQ codebook table $pqTable is empty")
      val m = rows.map(_._1).max + 1
      val books = Array.tabulate(m) { sub =>
        rows.filter(_._1 == sub).sortBy(_._2).map(_._3)
      }
      val dsub = books(0)(0).length
      PqModel(m * dsub, m, books.map(_.length).max, books)
    }

  private def ivfPqMissing(context: String, index: IvfPqIndex): String =
    s"$context: build the index first (ivfPqBuild) - missing one of " +
      s"${index.codebookTable}/${index.pqTable}/${index.assignmentsTable}"

  /** Top-k against a built [[IvfPqIndex]] in ONE bucketed scan of the
    * assignments: queries route to their `nProbe` nearest clusters via
    * the frozen IVF codebook, candidates inside those clusters are
    * ADC-scored with NO exchange on the corpus side (only the small probe
    * side shuffles or broadcasts; the corpus side broadcasts only when the
    * planner finds it smaller), and the bounded aggregate of [[adcTopK]]
    * keeps the per-query `overfetch` ADC shortlist, computes each admitted
    * candidate's exact cosine from the `v` read beside its codes, and
    * emits the top k by exact cosine. A warm query is three jobs: the
    * probe broadcast, the ADC map stage and the result stage. With
    * `nProbe = nClusters` AND `overfetch` ≥ corpus it equals
    * [[bruteForceTopK]] bit-for-bit (the declared-oracle configuration);
    * production settings trade recall for ADC scoring nProbe/nClusters of
    * the corpus and exact-scoring only shortlist admissions.
    */
  def ivfPqQuery(queries: DataFrame, idCol: String, vecCol: String,
                 index: IvfPqIndex, k: Int, nProbe: Int = 6,
                 overfetch: Int = 100): DataFrame = {
    require(overfetch >= k, s"ivfPqQuery: overfetch $overfetch must be >= k $k")
    adcTopK(ivfPqCandidates(queries, idCol, vecCol, index, nProbe), k, overfetch)
  }

  /** [[ivfPqQuery]]'s candidate rows: every (query, corpus row) pair inside
    * the query's `nProbe` clusters, self-pairs excluded, as the
    * [[adcTopK]] input columns.
    */
  private[graft] def ivfPqCandidates(queries: DataFrame, idCol: String, vecCol: String,
                                     index: IvfPqIndex, nProbe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    Dedup.finishCrashedSwap(spark, index.assignmentsTable)
    val missing = ivfPqMissing("ivfPqQuery", index)
    val bcC = codebookModel(spark, index.codebookTable, missing)
    val bcP = pqModel(spark, index.pqTable, missing)
    // one pass per query: nProbe (query, cluster) rows each carrying the
    // query's ADC lookup table, norm and vector; widened before fan-out if
    // narrow ([[widenIfNarrow]]): a one-file query batch would otherwise
    // hand the ADC scan a single task whenever the corpus side broadcasts
    val probes = widenIfNarrow(vectors(queries, idCol, vecCol, "ivfPqQuery"))
      .flatMap { case (id, v) =>
        // LUT, probe rule, and norm each built ONCE per query (the norm
        // was previously recomputed per probe row), through the shared
        // helpers so this path cannot drift from pqLuts/ivfProbeScores
        val lut = buildLut(bcP.value, id, v)
        val qn = normOf(v)
        nearestProbes(bcC.value, id, v, nProbe, "ivfPqQuery").map(ci => (id, ci, lut, qn, v))
      }.toDF("query_id", "cluster", "lut", "qnrm", "qv")
    // the stored nrm IS normOf(v) (same left-to-right double fold as
    // norm(col) — pinned in normOf's doc), so the re-rank reuses it
    val corpus = spark.table(index.assignmentsTable)
      .select(col("cluster"), col("id"), col("codes"), col("nrm"), col("v"))
    probes.join(corpus, Seq("cluster")).filter(col("query_id") =!= col("id"))
  }

  /** Continuous embedding ingest into a built [[IvfPqIndex]] — the
    * [[ivfAppend]] contract (codebook routing, no retraining, recall
    * drifts slowly / re-rank precision never, replayed rows absorbed by
    * `graft_topk`'s equal-(score,id) collapse until [[ivfPqCompact]] sheds
    * them) plus the PQ encode: new vectors pick up their m codes from the
    * FROZEN subspace codebooks, so ADC scores stay comparable across the
    * whole table. Both models load once per table version, as in
    * [[ivfAppend]]: a later append is one write job.
    */
  def ivfPqAppend(batch: DataFrame, idCol: String, vecCol: String,
                  index: IvfPqIndex, checks: TableChecks = new TableChecks): Unit = {
    val spark = batch.sparkSession
    val vecs = vectors(batch, idCol, vecCol, "ivfPqAppend")
    // memoized per stream ([[TableChecks]] — the ivfAppend rationale)
    checks.ensureWritable(spark, index.assignmentsTable)
    val missing = ivfPqMissing("ivfPqAppend", index)
    require(checks.exists(spark, index.codebookTable) &&
      checks.exists(spark, index.pqTable) &&
      checks.exists(spark, index.assignmentsTable), missing)
    assignedPq(vecs, codebookModel(spark, index.codebookTable, missing),
      pqModel(spark, index.pqTable, missing), "ivfPqAppend")
      .write.mode("append").format("parquet")
      .bucketBy(index.numBuckets, "cluster")
      .saveAsTable(index.assignmentsTable)
  }

  /** [[ivfCompact]] for the composed index: folds the appended-to
    * assignments back to one file per bucket and sheds replay duplicates.
    */
  def ivfPqCompact(spark: org.apache.spark.sql.SparkSession, index: IvfPqIndex): Unit =
    Dedup.compactBucketedTable(spark, index.assignmentsTable, index.numBuckets,
      Seq("cluster"))

  /** [[ivfStream]] for the composed index: per-micro-batch [[ivfPqAppend]]
    * with an optional compaction cadence. Caller sets trigger/checkpoint
    * and starts. Both models load once per table version, as in
    * [[ivfStream]]: a rebuild is picked up by the NEXT batch of a running
    * stream (it used to reach only a newly started stream).
    */
  def ivfPqStream(vecs: DataFrame, idCol: String, vecCol: String, index: IvfPqIndex,
                  compactEvery: Int = 0): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // one maintenance-check memo per stream: the ivfStream rationale
    TableChecks.foreachBatch(vecs, compactEvery)(
      (batch, _, checks) => ivfPqAppend(batch, idCol, vecCol, index, checks))(
      (spark, _) => ivfPqCompact(spark, index))
  }

  /** Signed-random-projection LSH candidate pairs, verified with exact
    * cosine — the equi-join ANN path. `numBits` hyperplane signs per
    * vector, banded into `numBits / bandSize` keys; hyperplane entries are
    * deterministic ±1 derived from splitmix64 mixing of (plane, dim).
    *
    * Candidate generation is a self-equi-join on (band, band-value) — never
    * a nested-loop compare — and candidates are verified with exact cosine,
    * so there are no false positives; recall is 1 − (1 − p^bandSize)^nBands
    * with p the SRP collision probability at the threshold (defaults give
    * P(miss) ≈ 1.2e-5 per pair at cosine 0.35). Pruning power comes from the
    * band buckets: on clustered real-world embeddings candidates are the
    * near-neighbors only; on adversarially uniform vectors the buckets are
    * balanced and candidates approach all pairs (LSH's information-theoretic
    * limit), but the plan stays shuffle+hash-join shaped — no O(n²) operator.
    * A pair colliding in several bands is emitted ONCE, by its first
    * colliding band ([[firstBandOnly]] — in-row bit arithmetic on the two
    * signatures the join row already carries), so there is no corpus-scale
    * candidate distinct: the multi-band duplicates die inside the join
    * stage instead of shuffling. Vectors are re-attached afterwards by two
    * equi-joins, so the wide float arrays never enter the candidate shuffle.
    *
    * PRECONDITION: `idCol` must be unique. [[firstBandOnly]] dedups the
    * multi-BAND copies of a pair, not multi-ROW copies: with k rows sharing
    * an id, each (id_a, id_b) pair is emitted once per row combination, and
    * the vector re-join verifies against an arbitrary copy. Callers with
    * possibly-duplicated ids must resolve them first (as the streaming
    * increments do with their deterministic same-id set-merge) — a
    * corpus-wide dropDuplicates here would re-add the exchange this path
    * exists to avoid.
    */
  def cosineLshPairs(df: DataFrame, idCol: String, vecCol: String, threshold: Double,
                     numBits: Int = 48, bandSize: Int = 2): DataFrame = {
    require(numBits % bandSize == 0)
    // Signature = splitmix64-derived ±1 hyperplane signs, computed by a
    // native codegen expression (graft.functions.Lsh.srpSign) — bit-identical
    // to the previous UDF, minus the ArrayData→Seq conversion per row.
    graft.functions.GraftFunctions.register(df.sparkSession)
    // base feeds band explosion plus both candidate re-joins: cache so the
    // scan + signature kernel run once. Scoped: callers release via
    // graft.Caching.release after materializing.
    val base = graft.Caching.scoped(srpBase(df, idCol, vecCol, numBits))
    val bands = srpBands(base, numBits, bandSize, keepSig = true)
    val cand = bands.toDF("id_a", "band", "bv", "sig_a")
      .join(bands.toDF("id_b", "band", "bv", "sig_b"), Seq("band", "bv"))
      .filter(col("id_a") < col("id_b"))
      .filter(firstBandOnly(col("band"), col("sig_a"), col("sig_b"),
        bandSize, numBits / bandSize))
      .select("id_a", "id_b")
    cand
      .join(base.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na")), "id_a")
      .join(base.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), "id_b")
      .filter(dot(col("va"), col("vb")) >= lit(threshold) * col("na") * col("nb"))
      .select(col("id_a").as("vec_id_a"), col("id_b").as("vec_id_b"))
  }

  /** The persisted corpus index behind [[cosineLshIncrement]] — the
    * embedding analog of [[Dedup.LshIndex]]:
    *
    *  - `bandsTable` (id, band, bv), bucketed by (band, bv): each
    *    micro-batch's SRP signature bands probe it exchange-free, so probe
    *    cost scales with the batch, not the corpus;
    *  - `vecsTable` (id, v, nrm), bucketed by id: serves the exact-cosine
    *    verification of candidate pairs (only candidate ids are pulled).
    *
    * Maintenance: [[cosineLshCompact]], same contract as the rest.
    */
  final case class CosineLshIndex(bandsTable: String, vecsTable: String,
                                  numBuckets: Int = 32)

  /** (id, v, nrm, sig) SRP-signature base over one corpus side — zero-norm
    * vectors are dropped (no defined cosine: they can never pair, matching
    * the NaN-fails-the-threshold behavior of the SQL oracles).
    */
  private[ext] def srpBase(df: DataFrame, idCol: String, vecCol: String,
                           numBits: Int): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).as("v"), norm(col(vecCol)).as("nrm"))
      .filter(definedCosine(col("nrm")))
      .withColumn("sig", call_function("graft_srp_sig", col("v"), lit(numBits)))

  private[ext] def srpBands(base: DataFrame, numBits: Int, bandSize: Int,
                            keepSig: Boolean = false): DataFrame = {
    val nBands = numBits / bandSize
    // wrap-safe band mask: (1L << 64) - 1 is 0 (Long shifts are mod 64),
    // which would constant-fold every bv to 0 and degenerate the banded
    // equi-join into a full cross product at bandSize = 64
    val mask = if (bandSize == 64) -1L else (1L << bandSize) - 1
    val exploded = base.select(col("id"), col("sig"),
      explode(array((0 until nBands).map { i =>
        struct(lit(i).as("band"),
          (shiftrightunsigned(col("sig"), i * bandSize) bitwiseAND lit(mask)).as("bv"))
      }: _*)).as("b"))
    val cols = Seq(col("id"), col("b.band").as("band"), col("b.bv").as("bv")) ++
      (if (keepSig) Seq(col("sig")) else Nil)
    exploded.select(cols: _*)
  }

  /** TRUE iff `band` is the FIRST band in which the two SRP signatures
    * collide — the in-row replacement for a corpus-scale `.distinct()` on
    * banded candidate pairs. A pair colliding in k bands appears k times in
    * the band equi-join output; instead of shuffling all k copies into a
    * distinct, each copy checks (pure bit arithmetic on the two 64-bit
    * signatures it already carries) whether every EARLIER band's slice
    * differs, and only the first-collision copy survives. The surviving set
    * is exactly the distinct'd candidate set — a deterministic dedup, not a
    * probabilistic one — and the candidate exchange it replaces was the
    * widest shuffle of the pairs path (≈ nBands × the candidate count when
    * band buckets are coarse, e.g. bandSize 2 on near-uniform vectors).
    *
    * Bit trick: xor's slice k is zero iff the band collides; OR-folding xor
    * over shifts 0..bandSize-1 collapses each slice's bits onto its low bit,
    * so "no earlier collision" is `collapsed & lowPat == lowPat` with
    * lowPat = one set bit per earlier slice (a literal array indexed by
    * band). All codegen-capable built-ins.
    */
  private[graft] def firstBandOnly(band: Column, sigA: Column, sigB: Column,
                                   bandSize: Int, nBands: Int): Column = {
    val xor = sigA.bitwiseXOR(sigB)
    val collapsed = (0 until bandSize).map(s => shiftrightunsigned(xor, s))
      .reduce(_ bitwiseOR _)
    val lowPats: Seq[Long] =
      (0 until nBands).map(b => (0 until b).map(k => 1L << (k * bandSize)).sum)
    val lowPat = element_at(typedLit(lowPats), band.cast("int") + 1)
    collapsed.bitwiseAND(lowPat) === lowPat
  }

  /** One micro-batch of incremental SEMANTIC near-dup detection — the
    * embedding analog of [[Dedup.minHashLshIncrement]], with the identical
    * exactly-once pair emission contract: candidates = in-batch band
    * self-join ∪ batch×index band probe, verified with exact cosine (no
    * false positives), pairs written under a `batch_id=` partition with
    * dynamic overwrite, and only then the batch's bands and vectors
    * appended — a pair is found exactly once, when its LATER vector
    * arrives. Replay-duplicated index rows are absorbed: candidates are
    * distinct'd and the verification side deduplicates per id after the
    * candidate semi-join (bounded by candidates, never the corpus).
    */
  def cosineLshIncrement(batch: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, index: CosineLshIndex,
                         pairsDir: String, batchId: Long,
                         numBits: Int = 48, bandSize: Int = 2,
                         checks: graft.ext.TableChecks = new graft.ext.TableChecks): Unit = {
    require(numBits % bandSize == 0)
    val spark = batch.sparkSession
    // the long cast below would silently NULL a non-integral id — every
    // candidate filter then drops every row and the stage finds nothing,
    // diverging from the batch path without an error. Guard first.
    Guards.requireIntegralId(batch, idCol, "cosineLshIncrement")
    // single-writer contract: no increment while cosineLshCompact rewrites
    // the index ([[StateLease]]); includes the crashed-swap finish.
    // Memoized per stream ([[TableChecks]]).
    checks.ensureWritable(spark, index.bandsTable)
    checks.ensureWritable(spark, index.vecsTable)
    graft.functions.GraftFunctions.register(spark)
    val base = batch
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        norm(col(vecCol)).as("nrm"))
      .filter(definedCosine(col("nrm")))
      .withColumn("sig", call_function("graft_srp_sig", col("v"), lit(numBits)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var caches: List[DataFrame] = List(base)
    try {
      // BOTH tables (the minHashLshIncrement first-batch-crash argument)
      val exists = checks.exists(spark, index.bandsTable) &&
        checks.exists(spark, index.vecsTable)
      val bands = srpBands(base, numBits, bandSize)
      val inBatch = bands.toDF("id_a", "band", "bv")
        .join(bands.toDF("id_b", "band", "bv"), Seq("band", "bv"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
      val cross =
        if (exists)
          spark.table(index.bandsTable).toDF("stored_id", "band", "bv")
            .join(bands.toDF("new_id", "band", "bv"), Seq("band", "bv"))
            .filter(col("stored_id") =!= col("new_id"))
            .select(least(col("stored_id"), col("new_id")).as("id_a"),
              greatest(col("stored_id"), col("new_id")).as("id_b"))
        else inBatch.limit(0)
      // cand feeds the verify probes AND both candIds unions, vecs both
      // verify sides — persist both (micro-batch-bounded; the
      // minHashLshIncrement round-11 rationale: without these each
      // reference re-runs the band joins / re-scans the corpus tables)
      val cand = inBatch.union(cross).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      caches ::= cand
      val allVecs =
        if (exists)
          spark.table(index.vecsTable).select("id", "v", "nrm")
            .union(base.select("id", "v", "nrm"))
        else base.select("id", "v", "nrm")
      // no .distinct(): left-semi dedups against its right side for free
      val candIds = cand.select(col("id_a").as("id"))
        .union(cand.select(col("id_b").as("id")))
      // replay-duplicated vec rows would duplicate verified pairs — dedup
      // per id AFTER the candidate semi-join, so the aggregate is bounded
      // by the candidate set. Conflicting same-id rows (duplicate ids in a
      // batch, or an id re-arriving with a different vector) resolve to
      // the (nrm, v)-max row — one DETERMINISTIC winner, and the SAME
      // winner on every later increment regardless of which batch carried
      // it (an arbitrary-row dropDuplicates made verified pairs
      // run-to-run nondeterministic); identical replay rows collapse to
      // themselves either way, at the same one-exchange cost
      val vecs = allVecs.join(candIds, Seq("id"), "left_semi")
        .groupBy("id")
        .agg(max(struct(col("nrm"), col("v"))).as("__w"))
        .select(col("id"), col("__w.v").as("v"), col("__w.nrm").as("nrm"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      caches ::= vecs
      // pairs MATERIALIZE while the index holds only PRIOR batches (the
      // minHashLshIncrement ordering argument)
      cand
        .join(vecs.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na")), "id_a")
        .join(vecs.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), "id_b")
        .filter(dot(col("va"), col("vb")) >= lit(threshold) * col("na") * col("nb"))
        .select(col("id_a").as("vec_id_a"), col("id_b").as("vec_id_b"))
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(pairsDir)
      val mode = if (exists) "append" else "overwrite"
      // independent index appends over the persisted batch base — concurrent
      // (the minHashLshIncrement round-11 pattern)
      graft.ext.ConcurrentActions.run(Seq(
        () => srpBands(base, numBits, bandSize).write.mode(mode).format("parquet")
          .bucketBy(index.numBuckets, "band", "bv").saveAsTable(index.bandsTable),
        () => base.select("id", "v", "nrm").write.mode(mode).format("parquet")
          .bucketBy(index.numBuckets, "id").saveAsTable(index.vecsTable)))
      checks.markExists(index.bandsTable)
      checks.markExists(index.vecsTable)
    } finally caches.foreach(_.unpersist(blocking = false))
  }

  /** Streaming semantic near-dup: [[cosineLshIncrement]] per micro-batch;
    * `compactEvery` as everywhere else.
    */
  def cosineLshStream(vecs: DataFrame, idCol: String, vecCol: String,
                      threshold: Double, pairsDir: String, index: CosineLshIndex,
                      numBits: Int = 48, bandSize: Int = 2,
                      compactEvery: Int = 0): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // one maintenance-check memo per stream (the ivfStream rationale)
    TableChecks.foreachBatch(vecs, compactEvery)((batch, id, checks) =>
      cosineLshIncrement(batch, idCol, vecCol, threshold, index,
        pairsDir, id, numBits, bandSize, checks))(
      (spark, _) => cosineLshCompact(spark, index))
  }

  /** Folds both index tables back to ≤ numBuckets files and sheds
    * replay-duplicated rows; same swap contract as [[Dedup.compactIndex]].
    */
  def cosineLshCompact(spark: org.apache.spark.sql.SparkSession,
                       index: CosineLshIndex): Unit = {
    Dedup.compactBucketedTable(spark, index.bandsTable, index.numBuckets, Seq("band", "bv"))
    Dedup.compactBucketedTable(spark, index.vecsTable, index.numBuckets, Seq("id"))
  }

  /** Fixed-point quantization scale for [[centroidClassify]]: floor(v·2²⁰)
    * is EXACT on any float (float→double is exact, ×2²⁰ is a power-of-two
    * exponent shift, floor is exact), so per-(label, dim) sums are exact
    * long arithmetic in any aggregation order.
    */
  val CentroidQuantScale: Double = (1L << 20).toDouble

  /** A trained nearest-class-mean classifier, frozen for reuse: the
    * label-sorted centroids (exact-quantized means as doubles) and the
    * fixed dimension. Labels×dim bounded — the [[graft.ext.TextAnalysis
    * .LogOddsModel]] freezing precedent.
    */
  final case class CentroidModel(dim: Int, centroids: Seq[(Int, Array[Double])])

  /** Train the NCM centroids once and freeze them — [[classifyCentroids]]
    * then scores any later corpus, including a STREAM (training aggregates
    * eagerly; scoring is a pure literal-based projection). Two passes: a
    * cheap guard scan (NULL vectors and ragged dimensions fail LOUDLY —
    * posexplode would silently drop a NULL row and skew the centroid) and
    * the labels×dim exact-sum aggregate, whose per-(label, position)
    * count doubles as the per-label vector count (every vector of a label
    * contributes exactly one value at every position).
    */
  def trainCentroids(df: DataFrame, vecCol: String, labelCol: String): CentroidModel = {
    // validated up front so a STRING/DOUBLE label fails with this message,
    // not a bare ClassCastException at the collect below. Any integral type
    // is accepted and cast to int losslessly — labels like `user_id % k`
    // are naturally LONG — with a per-row raise on int overflow (a silent
    // cast would wrap 2^31 to -2^31 and merge unrelated classes).
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val labelType = df.schema(labelCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(labelType),
      s"trainCentroids: label column '$labelCol' must be an integral type " +
        s"(BYTE/SHORT/INT/LONG), got $labelType")
    val labelAsInt =
      if (labelType == LongType)
        // bounds compare, not a round-trip cast: ANSI mode would throw its
        // own CAST_OVERFLOW out of the probe cast before this message fires
        when(col(labelCol) > Int.MaxValue.toLong || col(labelCol) < Int.MinValue.toLong,
          raise_error(concat(lit(s"trainCentroids: label in '$labelCol' overflows INT: "),
            col(labelCol).cast("string"))).cast("int"))
          .otherwise(col(labelCol).cast("int"))
      else col(labelCol).cast("int")
    val chk = df.agg(count(lit(1)).as("n"),
      sum(when(col(vecCol).isNull, 1L).otherwise(0L)).as("nulls"),
      min(size(col(vecCol))).as("dmin"), max(size(col(vecCol))).as("dmax"),
      sum(when(col(labelCol).isNull, 1L).otherwise(0L)).as("lnulls"),
      // NULL/NaN/Inf vector COMPONENTS would train silently-wrong
      // centroids: a NULL element quantizes to null — sum() skips it
      // while count() still counts the row, deflating that component
      // toward 0 — and floor(NaN·2²⁰)/floor(Inf·2²⁰) cast to long is 0
      // under non-ANSI SQL, silently trained as 0. Ncm.argmax RAISES on
      // the same inputs at scoring time, so training must too (the
      // train/score consistency rule); exists() over a NULL array is
      // null, which `when` treats as false — the whole-NULL rows are the
      // `nulls` counter's job above.
      sum(when(exists(col(vecCol), x => x.isNull || isnan(x) ||
        x === lit(Float.PositiveInfinity) || x === lit(Float.NegativeInfinity)),
        1L).otherwise(0L)).as("badcomp")).head()
    require(chk.getLong(0) > 0, "trainCentroids requires a non-empty input")
    require(chk.getLong(1) == 0,
      s"trainCentroids: ${chk.getLong(1)} NULL ${vecCol} vectors — drop or impute them first")
    // a NULL label survives the groupBy as a null-keyed class and the
    // collect's getInt then throws a bare 'Value at index 0 in null' NPE —
    // the third input corruption, named like the other two
    require(chk.getLong(4) == 0,
      s"trainCentroids: ${chk.getLong(4)} NULL ${labelCol} labels — drop or impute them first")
    require(chk.getLong(5) == 0,
      s"trainCentroids: ${chk.getLong(5)} vectors carry NULL/NaN/Inf components " +
        "— drop or impute them first (they would silently skew the centroids)")
    require(chk.getInt(2) == chk.getInt(3) && chk.getInt(2) > 0,
      s"trainCentroids requires one fixed positive dimension, got ${chk.getInt(2)}..${chk.getInt(3)}")
    val dim = chk.getInt(2)
    // labels×dim exact sums + counts in ONE aggregate: bounded driver collect
    val sums = df
      .select(labelAsInt.as("__l"),
        posexplode(transform(col(vecCol),
          v => floor(v.cast("double") * lit(CentroidQuantScale)).cast("long")))
          .as(Seq("__p", "__q")))
      .groupBy("__l", "__p").agg(sum(col("__q")).as("__s"), count(lit(1)).as("__c"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    CentroidModel(dim, sums.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (l, rows) =>
        val c = Array.ofDim[Double](dim)
        rows.foreach { case (_, p, s, n) => c(p) = s.toDouble / n }
        (l, c)
      })
  }

  /** Score any corpus — batch or STREAMING — against a frozen
    * [[CentroidModel]]: appends `pred_label` as a pure codegen projection
    * (element_at/floor term chains × centroid literals, greatest-of-structs
    * argmax — NO lambda, NO join, NO exchange, NO state), so the same call
    * runs unchanged as an append-mode streaming query. A NULL vector
    * predicts NULL (greatest over NULL scores would otherwise pick an
    * arbitrary-looking survivor); a vector whose length differs from
    * `model.dim` fails LOUDLY per row — element_at past the end returns
    * NULL (non-ANSI), which would silently turn the argmax arbitrary,
    * and on the standalone streaming path [[trainCentroids]]'s ragged-
    * dimension guard never ran over this corpus.
    */
  def classifyCentroids(df: DataFrame, vecCol: String, model: CentroidModel): DataFrame = {
    require(model.centroids.nonEmpty, "classifyCentroids requires a trained model")
    // ONE codegen kernel call per row ([[graft.functions.NcmArgmax]]) with
    // the label-sorted centroids folded in as literals. The previous
    // formulation expanded labels×dim element_at/floor/multiply terms into
    // a greatest-of-structs — big enough to fail janino compilation at
    // realistic model sizes and silently fall back to interpreted eval;
    // the kernel is bit-identical by construction (same quantization, same
    // left-to-right fold, same smaller-label tie rule) and spec-pinned
    // against the sequential model. NULL vectors predict NULL (null
    // propagation through the expression); a wrong-dimension vector
    // throws per row inside the kernel.
    graft.functions.GraftFunctions.register(df.sparkSession)
    // sort HERE, not just in trainCentroids: the kernel's first-wins tie
    // rule equals the documented smaller-label rule only when the literal
    // arrays arrive label-sorted, and CentroidModel is a public case class
    // a caller can hand-build in any order
    val sorted = model.centroids.sortBy(_._1)
    val labels = typedLit(sorted.map(_._1).toArray)
    val cents = typedLit(sorted.flatMap(_._2).toArray)
    df.withColumn("pred_label",
      call_function("graft_ncm_argmax", col(vecCol), labels, cents))
  }

  /** Nearest-class-mean embedding classifier (Rocchio/NCM — the standard
    * zero-training-loop baseline for labeling embeddings at corpus scale,
    * e.g. routing documents to domain experts or quality tiers by a few
    * labeled seed clusters). Each label's centroid is the mean of its
    * vectors; every vector is assigned the label whose centroid maximizes
    * the inner product (ties → smaller label). One-call composition of
    * [[trainCentroids]] + [[classifyCentroids]].
    *
    * Reproducibility: vectors are fixed-point quantized
    * ([[CentroidQuantScale]]) so the per-(label, dim) sums are EXACT longs
    * (order-free); each centroid component then pays ONE double division,
    * and each score is a LEFT-TO-RIGHT sum of `quantized·centroid`
    * products (a `reduceLeft` of codegen terms — DuckDB's `list_reduce`
    * folds in the same order), so scores are bit-identical cross-engine
    * and the argmax (ties by label) is deterministic.
    *
    * Scale shape: the centroid aggregation is ONE exchange whose map-side
    * partials collapse each partition to ≤ labels×dim rows; the result
    * (labels×dim longs + counts) is a bounded driver-side collect (the
    * codebook precedent) folded into LITERAL arrays, so the scoring pass
    * is ZERO-shuffle, fully codegen (element_at chains — no lambda, no
    * join), and embarrassingly parallel at any corpus size.
    *
    * Output: one row per vector — (idCol, labelCol, pred_label INT).
    */
  def centroidClassify(df: DataFrame, idCol: String, vecCol: String,
                       labelCol: String): DataFrame =
    classifyCentroids(df, vecCol, trainCentroids(df, vecCol, labelCol))
      .select(col(idCol), col(labelCol), col("pred_label"))
}
