package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Vectors

/** Similarity search over the embeddings table ([ext], SURVEY.md §2.8).
  *
  * Three tiers, by scale:
  *   - topKvsQuery: brute-force scan vs ONE query vector — linear, the
  *     honest baseline; the query vector is a broadcast single row.
  *   - allPairsCosineCapped: exact quadratic, bounded id range — the
  *     recall oracle for the approximate paths, never the scale path.
  *   - lshTopK: random-hyperplane LSH buckets + within-bucket exact
  *     re-rank — the 100 TB shape (shuffle on bucket id, no cross join).
  */
object Similarity {

  /** Dedicated tiny pool for LEAF-level collect overlap (the
    * centroids/codebooks pair in the probe paths). Deliberately NOT
    * [[graft.VerdictOps]]' shared pool: query-level verdict forks call
    * into these probe builders, and a nested fork+join on one bounded
    * pool can deadlock when every outer thread blocks on an inner task
    * that cannot get a thread. Tasks submitted here never fork or join
    * anything themselves, so exhaustion cannot cycle.
    */
  private lazy val leafPool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(4, (r: Runnable) => {
        val t = new Thread(r, "graft-similarity-leaf")
        t.setDaemon(true)
        t
      }))

  private def forkLeaf[A](f: => A): scala.concurrent.Future[A] =
    scala.concurrent.Future(f)(leafPool)

  private def joinLeaf[A](x: scala.concurrent.Future[A]): A =
    scala.concurrent.Await.result(x,
      scala.concurrent.duration.Duration(30, "min"))

  /** A scored candidate row for the typed per-probe top-k path (the
    * case class must be object-level for implicit Encoder resolution).
    */
  final case class ProbeScored(probe_id: Long, vec_id: Long, cosine: Double)

  /** Bounded top-k per probe over (probe_id, vec_id, cosine) rows via
    * the native [[graft.plans.TopKByScore]] aggregate — NOT a window:
    * `probe_id` cardinality is the (small) probe-set size, so a window
    * would sort the ENTIRE candidate set on that many tasks; the
    * aggregate prunes to k rows map-side and the shuffle carries k rows
    * per (partition, probe). Ordering (cosine desc, vec_id) matches the
    * window/oracle ordering.
    *
    * Optimization r18 (VERDICT item 3): this was a typed
    * `groupByKey + Aggregator` — every candidate row paid an
    * object-encoder round trip (`AppendColumns` +
    * `SerializeFromObject`/`newInstance(ProbeScored)` in the plan),
    * breaking the codegen span right above the scoring chain, and the
    * immutable Vector buffer re-sorted per insert. The native aggregate
    * consumes Tungsten rows directly with a bounded binary heap; same
    * ordering, same partial/final shape, identical rows out.
    */
  private[operators] def topKPerProbe(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("probe_id"))
      .agg(graft.plans.TopKByScore.topKByScore(
        col("vec_id"), col("cosine"), k, ascending = false,
        "vec_id", "cosine").as("top"))
      .select(col("probe_id"), posexplode(col("top")).as(Seq("pos", "r")))
      .select(col("probe_id"), col("r.vec_id").as("vec_id"),
        col("r.cosine").as("cosine"),
        (col("pos") + 1).cast("int").as("rn"))

  private def emb(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("label"), Vectors.asDouble(col("embedding")).as("v"))

  /** Exact top-k nearest (cosine) to the vector of `queryVecId`.
    * The one-row query side is broadcast; ordering ties broken by vec_id.
    * Ordered on the ROUNDED score so the oracle's ordering agrees.
    */
  def topKvsQuery(embeddings: DataFrame, queryVecId: Long, k: Int): DataFrame = {
    val e = emb(embeddings)
    val q = e.filter(col("vec_id") === queryVecId).select(col("v").as("qv"))
    e.filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .withColumn("cosine", round(Vectors.cosine(col("v"), col("qv")), 6))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"), col("cosine"))
  }

  /** Exact all-pairs cosine over a bounded id range with a score floor. */
  def allPairsCosineCapped(embeddings: DataFrame, idCap: Long, minCos: Double): DataFrame = {
    val e = emb(embeddings).filter(col("vec_id") < idCap)
    val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"))
    val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"))
    a.crossJoin(b)
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine", round(Vectors.cosine(col("va"), col("vb")), 6))
      .filter(col("cosine") >= minCos)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }

  /** The deterministic pseudo-random plane values behind
    * [[hyperplaneBucket]] — plain doubles derived from a hash of
    * (plane, dim), no RNG state. Exposed so oracle SQL can be GENERATED
    * with the identical literals (the bucketing is then reproducible in
    * any engine, which is what makes the LSH queries hash-checkable).
    */
  def planeValues(nPlanes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until nPlanes).map { p =>
      (0 until dim).map { d =>
        (scala.util.hashing.MurmurHash3.productHash((p, d)) % 1000) / 1000.0
      }
    }

  /** Deterministic random-hyperplane bucket id: sign bits of the dot
    * product with `nPlanes` pseudo-random planes (see [[planeValues]]).
    */
  def hyperplaneBucket(v: Column, nPlanes: Int, dim: Int): Column =
    planeValues(nPlanes, dim).zipWithIndex.map { case (pv, i) =>
      val plane = array(pv.map(lit): _*)
      when(Vectors.dot(v, plane) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Johnson–Lindenstrauss random projection to `outDim` dimensions:
    * out[j] = dot(v, plane_j) / sqrt(outDim) over the deterministic
    * [[planeValues]] matrix — a pure narrow codegen'd expression tree
    * (no UDF, no shuffle). At 100 TB this is the ANN pre-filter lever:
    * distances in the projected space cost outDim/dim of the full
    * computation and JL bounds the pairwise-distance distortion, so a
    * candidate set from the cheap space re-ranks exactly in the full
    * space. Deterministic matrix ⇒ reproducible in any engine with the
    * same literals (q128's recall verdict exploits this).
    */
  def randomProjection(v: Column, outDim: Int, dim: Int): Column = {
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    array(planeValues(outDim, dim).map { pv =>
      Vectors.dot(v, array(pv.map(lit): _*)) * scale
    }: _*)
  }

  /** Fixed-seed coarse-quantizer cell assignment: (vec_id, label, v,
    * cell) with cell in [0, nlist) — the clustering layer [[ivfTopK]] /
    * [[buildIvfIndex]] train inline, factored out so semantic dedup
    * (`Dedup.semanticDedup`) clusters with the SAME quantizer
    * convention (same seed/init/iterations ⇒ same cells on the same
    * data). Assignment cost at scale: one broadcast of nlist centroids
    * + a narrow map; training samples internally.
    */
  def assignCells(embeddings: DataFrame, nlist: Int, maxIter: Int = 5): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val e = emb(embeddings).withColumn("fv", array_to_vector(col("v")))
    val model = new KMeans().setK(nlist).setSeed(42L).setMaxIter(maxIter)
      .setInitMode("random")
      .setFeaturesCol("fv").setPredictionCol("cell")
      .fit(e.select(col("fv")))
    model.transform(e).drop("fv")
  }

  private val trainedCells =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()

  /** Train-once guard per JVM for the coarse-quantizer centroids (the
    * [[ensurePqCodebooks]] convention): clustering's serving shape is
    * train-once/assign-many — re-fitting k-means per invocation charges
    * every run the training pass. Same fixed seed/init as
    * [[assignCells]], so the centroids are the ones that quantizer
    * would produce.
    */
  def ensureCellCentroids(embeddings: DataFrame, key: String, nlist: Int,
                          maxIter: Int = 5): Array[Array[Double]] =
    // nlist/maxIter are part of the cache key: two call sites sharing a
    // caller key but asking for different parameters must NOT silently
    // receive each other's centroids (that collision is silent
    // wrong-results, not an error)
    trainedCells.computeIfAbsent(s"$key:$nlist:$maxIter", _ => {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val e = emb(embeddings).withColumn("fv", array_to_vector(col("v")))
      new KMeans().setK(nlist).setSeed(42L).setMaxIter(maxIter)
        .setInitMode("random")
        .setFeaturesCol("fv").setPredictionCol("cell")
        .fit(e.select(col("fv")))
        .clusterCenters.map(_.toArray)
    })

  /** Nearest-centroid cell assignment as a pure expression: squared L2
    * against each centroid literal, argmin = position of the array
    * minimum (first minimum on ties — MLlib's convention too). A
    * narrow codegen'd map over the scan: the nlist×dim centroids ride
    * in the plan as literals, no MLlib transform, no shuffle — the
    * "broadcast centroids + narrow map" shape the 100 TB notes
    * promise, with the broadcast folded into the plan itself.
    *
    * Numeric caveat: this computes sum((a-b)^2) directly, while
    * MLlib's transform path uses the norm-trick expansion
    * (||a||^2 + ||b||^2 - 2ab) with distance pruning. The two differ
    * in float rounding, so a vector EXACTLY equidistant (to the last
    * ulp) from two centroids could flip cells between the train-once
    * path and an inline `fit`. For a coarse ANN quantizer this only
    * perturbs which cell a boundary vector lands in — recall verdicts
    * (q43/q133/q138) are unaffected because probe and corpus use the
    * SAME assignment expression; equivalence with MLlib's own
    * assignments is approximate near exact ties, by design.
    */
  def assignCellsByCentroids(embeddings: DataFrame,
                             centroids: Array[Array[Double]]): DataFrame = {
    val d2 = centroids.toSeq.map { c =>
      graft.plans.VectorOps.vecL2Sq(col("v"), array(c.toSeq.map(lit): _*))
    }
    val darr = array(d2: _*)
    emb(embeddings)
      .withColumn("cell",
        (array_position(darr, array_min(darr)) - 1).cast("int"))
  }

  /** IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    * (MLlib, fixed seed) assigns every vector to one of `nlist` cells;
    * each probe searches only its `nprobe` nearest cells, with exact
    * cosine re-rank inside them. The scale path for ANN when hyperplane
    * LSH recall is insufficient: candidate volume ~ N * nprobe / nlist.
    * At 100 TB the quantizer trains on a sample (KMeans does this
    * internally per partition aggregation); assignment is one broadcast
    * of nlist centroids + a narrow map.
    */
  def ivfTopK(embeddings: DataFrame, probeVecIds: Seq[Long], k: Int,
              nlist: Int = 8, nprobe: Int = 2, maxIter: Int = 5,
              centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    // with pre-trained centroids (ensureCellCentroids — same fixed
    // seed/init, so identical cells) assignment is the narrow argmin
    // expression and NO fit/transform runs inside the query
    val (assigned, centers) = centroids match {
      case Some(cs) => (assignCellsByCentroids(embeddings, cs), cs)
      case None =>
        val e = emb(embeddings).withColumn("fv", array_to_vector(col("v")))
        // a coarse quantizer doesn't need convergence — a few Lloyd
        // iterations give stable-enough cells (fixed seed keeps them
        // deterministic), and each extra iteration is a full pass over the
        // vectors; random init skips k-means||'s additional init passes
        val model = new KMeans().setK(nlist).setSeed(42L).setMaxIter(maxIter)
          .setInitMode("random")
          .setFeaturesCol("fv").setPredictionCol("cell")
          .fit(e.select(col("fv")))
        (model.transform(e).drop("fv"), model.clusterCenters.map(_.toArray))
    }

    // probes are few by contract: their vectors + nprobe nearest cells
    // are computed driver-side (centroids are nlist x dim — tiny)
    val probes = assigned.filter(col("vec_id").isin(probeVecIds: _*))
      .select(col("vec_id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val spark = embeddings.sparkSession
    import spark.implicits._
    val probeCells = probes.flatMap { case (pid, pv) =>
      centers.zipWithIndex
        .map { case (c, ci) => (ci, l2Dist(pv, c)) }
        .sortBy(_._2).take(nprobe)
        .map { case (ci, _) => (pid, ci, pv) }
    }.toSeq.toDF("probe_id", "cell", "qv")

    topKPerProbe(
      assigned.join(broadcast(probeCells), Seq("cell"))
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("cosine", round(Vectors.cosine(col("v"), col("qv")), 6)), k)
  }

  private def l2Dist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  /** PERSISTENT IVF index — build once, probe many (the ANN serving
    * shape; [[ivfTopK]] retrains per query, which is the exploratory
    * shape). Writes `indexDir/centroids` (nlist tiny rows) and
    * `indexDir/vectors` hive-partitioned by the assigned `cell`, so a
    * probe that visits `nprobe` cells READS only those partition
    * directories — static partition pruning turns probe cost from
    * O(corpus) to O(corpus · nprobe / nlist) of I/O, the disk-layout
    * analog of the in-memory inverted list. Same fixed-seed training as
    * ivfTopK: identical data ⇒ identical cells (DedupSimilaritySpec
    * asserts query-vs-ivfTopK equality and the pruned file set).
    */
  def buildIvfIndex(embeddings: DataFrame, indexDir: String,
                    nlist: Int = 8, maxIter: Int = 5): Unit = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val e = emb(embeddings).withColumn("fv", array_to_vector(col("v")))
    val model = new KMeans().setK(nlist).setSeed(42L).setMaxIter(maxIter)
      .setInitMode("random")
      .setFeaturesCol("fv").setPredictionCol("cell")
      .fit(e.select(col("fv")))
    model.transform(e).drop("fv")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$indexDir/vectors")
    val spark = embeddings.sparkSession
    import spark.implicits._
    model.clusterCenters.map(_.toArray.toSeq).zipWithIndex
      .map { case (c, i) => (i, c) }.toSeq.toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
  }

  private val builtIndexes = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once guard per JVM (Bench invokes each query 4x; the index
    * write is the expensive training pass the persistent layout exists
    * to amortize).
    */
  def ensureIvfIndex(embeddings: DataFrame, indexDir: String,
                     nlist: Int = 8, maxIter: Int = 5): Unit =
    if (builtIndexes.putIfAbsent(indexDir, "built") == null)
      buildIvfIndex(embeddings, indexDir, nlist, maxIter)

  /** Probe the persistent index: centroids are read driver-side (tiny),
    * the `nprobe` nearest cells per probe are chosen there, and the
    * candidate scan touches ONLY those `cell=` partition dirs. The probe
    * vectors themselves come from one bounded lookup (few ids by
    * contract, same as ivfTopK).
    */
  def queryIvfIndex(spark: org.apache.spark.sql.SparkSession, indexDir: String,
                    probeVecIds: Seq[Long], k: Int, nprobe: Int = 2): DataFrame = {
    val centers = spark.read.parquet(s"$indexDir/centroids")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    val vectors = spark.read.parquet(s"$indexDir/vectors")
    val probes = vectors.filter(col("vec_id").isin(probeVecIds: _*))
      .select(col("vec_id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val probeCellsLocal = probes.flatMap { case (pid, pv) =>
      centers.map { case (ci, c) => (ci, l2Dist(pv, c)) }
        .sortBy(_._2).take(nprobe)
        .map { case (ci, _) => (pid, ci, pv.toSeq) }
    }
    import spark.implicits._
    val probeCells = probeCellsLocal.toSeq.toDF("probe_id", "cell", "qv")
    val cells = probeCellsLocal.map(_._2).distinct.sorted
    // isin on the partition column -> only the probed cell dirs are read
    val cand = vectors.filter(col("cell").isin(cells.map(Integer.valueOf): _*))
    topKPerProbe(
      cand.join(broadcast(probeCells), Seq("cell"))
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("cosine", round(Vectors.cosine(col("v"), col("qv")), 6)), k)
  }

  /** Approximate top-k per probe vector: bucket everything with
    * `nPlanes` hyperplanes, exact cosine re-rank only within the bucket.
    * At scale: one shuffle on bucket id; bucket sizes are ~N/2^nPlanes.
    */
  def lshTopK(embeddings: DataFrame, probeVecIds: Seq[Long], k: Int,
              nPlanes: Int = 4, dim: Int = 64): DataFrame = {
    val e = emb(embeddings).withColumn("bucket", hyperplaneBucket(col("v"), nPlanes, dim))
    val probes = e.filter(col("vec_id").isin(probeVecIds: _*))
      .select(col("vec_id").as("probe_id"), col("v").as("qv"), col("bucket"))
    topKPerProbe(
      e.join(broadcast(probes), Seq("bucket"))
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("cosine", round(Vectors.cosine(col("v"), col("qv")), 6)), k)
  }

  /** A distance-scored candidate (ascending order — L2 family). */
  final case class ProbeDist(probe_id: Long, vec_id: Long, dist: Double)

  /** Bounded top-k per probe, ASCENDING distance — the L2 twin of
    * [[topKPerProbe]] (same native-aggregate shape, same reason: no
    * window sort over a tiny-cardinality probe key; same r18
    * typed-Aggregator replacement).
    */
  private def topKPerProbeDist(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("probe_id"))
      .agg(graft.plans.TopKByScore.topKByScore(
        col("vec_id"), col("dist"), k, ascending = true,
        "vec_id", "dist").as("top"))
      .select(col("probe_id"), posexplode(col("top")).as(Seq("pos", "r")))
      .select(col("probe_id"), col("r.vec_id").as("vec_id"),
        col("r.dist").as("dist"),
        (col("pos") + 1).cast("int").as("rn"))

  /** Exact L2 top-k for a bounded probe set (broadcast probes, full
    * scan) — the ground truth the PQ recall verdict compares against.
    */
  def exactL2TopK(embeddings: DataFrame, probeVecIds: Seq[Long], k: Int): DataFrame = {
    val e = emb(embeddings)
    val probes = e.filter(col("vec_id").isin(probeVecIds: _*))
      .select(col("vec_id").as("probe_id"), col("v").as("qv"))
    topKPerProbeDist(
      e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
        .withColumn("dist", round(Vectors.l2(col("v"), col("qv")), 6)), k)
  }

  /** PRODUCT-QUANTIZATION codebooks: `[subspace][code][subdim]`, one
    * fixed-seed KMeans per subspace over the corpus's subvector slices.
    * Codebooks are m × codebookSize × (dim/m) doubles — tiny; at 100 TB
    * train on a sample (quantizer quality needs distribution coverage,
    * not the full corpus).
    */
  def pqCodebooks(embeddings: DataFrame, m: Int, codebookSize: Int, dim: Int,
                  maxIter: Int = 5): Array[Array[Array[Double]]] =
    pqCodebooksOnVec(emb(embeddings), m, codebookSize, dim, maxIter)

  /** The per-subspace KMeans fits over ANY frame carrying a `v`
    * vector column — shared by [[pqCodebooks]] (raw vectors) and the
    * IVF-PQ build (cell RESIDUALS, the FAISS convention).
    */
  private def pqCodebooksOnVec(vecs: DataFrame, m: Int, codebookSize: Int,
                               dim: Int, maxIter: Int): Array[Array[Array[Double]]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val sub = dim / m
    require(sub * m == dim, s"dim $dim must divide into $m subspaces")
    Array.tabulate(m) { j =>
      val sv = vecs.select(array_to_vector(slice(col("v"), j * sub + 1, sub)).as("fv"))
      val centers = new KMeans().setK(codebookSize).setSeed(42L + j).setMaxIter(maxIter)
        .setInitMode("random").setFeaturesCol("fv")
        .fit(sv).clusterCenters.map(_.toArray)
      // KMeans returns fewer than k centers when the points hold fewer
      // than k distinct values (an IVF cell of one vector leaves an
      // all-zero residual, so small training sets repeat them): repeat
      // the last center up to codebookSize. The encoder takes the FIRST
      // nearest code, so no vector ever encodes to a repeat.
      centers ++ Array.fill(codebookSize - centers.length)(centers.last)
    }
  }

  /** Narrow PQ ENCODE expression: each subspace's nearest-codebook-id,
    * `array<int>` of length m. Pure codegen'd array HOFs (codebooks are
    * expression literals) — encoding a 100 TB corpus is a map-only pass
    * that shrinks dim floats to m small ints per row.
    */
  def pqCodes(v: Column, codebooks: Array[Array[Array[Double]]]): Column = {
    val sub = codebooks(0)(0).length
    array(codebooks.zipWithIndex.map { case (cb, j) =>
      val subv = slice(v, j * sub + 1, sub)
      val cbLit = array(cb.map(c => array(c.map(lit): _*)): _*)
      val dists = transform(cbLit, c => graft.plans.VectorOps.vecL2Sq(subv, c))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }: _*)
  }

  /** PQ top-k with ASYMMETRIC DISTANCE (ADC), completing the ANN
    * family: LSH buckets candidates, IVF prunes partitions, JL shrinks
    * dimensions — PQ shrinks MEMORY: the scan reads m-int codes, never
    * the raw vectors, and each probe's distance is a sum of m
    * lookup-table entries (LUT computed driver-side for the
    * contract-bounded probe set, m × codebookSize doubles per probe).
    * Approximate by construction — pair with an exact re-rank of the
    * candidate set, as the q133 recall verdict does.
    */
  private val trainedCodebooks =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Array[Double]]]]()

  /** Train-once guard per JVM (the ensureIvfIndex convention): PQ's
    * serving shape is build-once/probe-many — retraining the m KMeans
    * fits per query would charge every probe the index build.
    */
  def ensurePqCodebooks(embeddings: DataFrame, key: String, m: Int, codebookSize: Int,
                        dim: Int, maxIter: Int = 5): Array[Array[Array[Double]]] =
    trainedCodebooks.computeIfAbsent(key,
      _ => pqCodebooks(embeddings, m, codebookSize, dim, maxIter))

  def pqTopK(embeddings: DataFrame, probeVecIds: Seq[Long], k: Int,
             m: Int = 8, codebookSize: Int = 16, dim: Int = 64,
             maxIter: Int = 5, codebooks: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    val e = emb(embeddings)
    val cbs = codebooks.getOrElse(pqCodebooks(embeddings, m, codebookSize, dim, maxIter))
    val sub = dim / m
    // bounded collect: the probe vectors (few by contract)
    val probes = e.filter(col("vec_id").isin(probeVecIds: _*))
      .select(col("vec_id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    // ONE corpus scan for the whole probe batch: each probe's ADC lookup
    // table (m × codebookSize partial squared distances) rides in as one
    // row of a broadcast side, and every (row, probe) distance is a
    // zip_with of the row's codes against that probe's LUT. The previous
    // shape built one plan branch per probe, scanning (and re-encoding,
    // absent a checkpoint) the corpus O(probes) times — fine for 3
    // probes, wrong for a 100-probe serving batch. With one consumer the
    // encode needs no checkpoint barrier at all.
    val spark = embeddings.sparkSession
    import spark.implicits._
    val lutRows = probes.map { case (pid, pv) =>
      val lut = Seq.tabulate(m) { j =>
        cbs(j).toSeq.map { c =>
          var s = 0.0
          var i = 0
          while (i < sub) { val d = pv(j * sub + i) - c(i); s += d * d; i += 1 }
          s
        }
      }
      (pid, lut)
    }.toSeq.toDF("probe_id", "lut")
    val encoded = e.select(col("vec_id"), pqCodes(col("v"), cbs).as("codes"))
    val scored = encoded.crossJoin(broadcast(lutRows))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(sqrt(aggregate(
          zip_with(col("codes"), col("lut"), (c, row) => element_at(row, c + 1)),
          lit(0.0), (a, x) => a + x)), 6).as("dist"))
    topKPerProbeDist(scored, k)
  }

  /** PERSISTENT PQ serving index — the missing half of the PQ story:
    * [[ensurePqCodebooks]] amortizes training per JVM, but the
    * codebooks die with the process and every session re-encodes the
    * corpus. Here both halves of the index are COMMITTED tables
    * (`EventStreams.mergeBatchIntoTable` — atomic manifest publish,
    * idempotent batchId):
    *   - `indexDir/codebooks`: (subspace, code, centroid) —
    *     m × codebookSize tiny rows;
    *   - `indexDir/codes`: (vec_id, codes array<int>) — the compressed
    *     corpus, m small ints per vector, NO raw vector column: at
    *     100 TB this table is ~dim×4/m smaller than the embeddings
    *     (64-dim float → 8 bytes of codes is 32×), and it is the ONLY
    *     thing a probe reads.
    * A fresh session probes with [[queryPqIndex]]: codebooks collect
    * driver-side (tiny), per-probe ADC lookup tables broadcast, and
    * the scan touches only the codes table — no KMeans, no re-encode,
    * no embeddings scan (PlanSpec-guarded).
    */
  def buildPqIndex(embeddings: DataFrame, indexDir: String, m: Int = 8,
                   codebookSize: Int = 16, dim: Int = 64, maxIter: Int = 5,
                   nBuckets: Int = 8): Unit = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val cbs = pqCodebooks(embeddings, m, codebookSize, dim, maxIter)
    val cbRows = for { j <- 0 until m; c <- 0 until codebookSize }
      yield (j, c, cbs(j)(c).toSeq)
    graft.streaming.EventStreams.mergeBatchIntoTable(
      cbRows.toDF("subspace", "code", "centroid"), s"$indexDir/codebooks",
      Seq("subspace", "code"), "code", nBuckets = 1, batchId = 0L)
    val codes = emb(embeddings)
      .select(col("vec_id"), pqCodes(col("v"), cbs).as("codes"))
    graft.streaming.EventStreams.mergeBatchIntoTable(
      codes, s"$indexDir/codes", Seq("vec_id"), "vec_id", nBuckets, batchId = 0L)
  }

  private val builtPqIndexes = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once guard per JVM (the [[ensureIvfIndex]] convention); the
    * committed tables make re-runs cheap anyway (idempotent batch 0),
    * but the guard also skips the KMeans fits. computeIfAbsent (the
    * [[ensureCellCentroids]] pattern) so a concurrent caller BLOCKS
    * until the build commits instead of observing "built" mid-build
    * and probing a partial index; on build failure the mapping is not
    * established, so the next caller retries instead of probing a
    * permanently-poisoned guard.
    */
  def ensurePqIndex(embeddings: DataFrame, indexDir: String, m: Int = 8,
                    codebookSize: Int = 16, dim: Int = 64, maxIter: Int = 5): Unit =
    builtPqIndexes.computeIfAbsent(indexDir, { _ =>
      buildPqIndex(embeddings, indexDir, m, codebookSize, dim, maxIter)
      "built"
    })

  /** Probe the persistent PQ index from a COLD session: probe vectors
    * are caller-supplied raw vectors (in serving they arrive with the
    * request, not from the corpus), codebooks come from the committed
    * table (driver-side, tiny), and the returned plan scans ONLY the
    * codes table — the same one-scan ADC shape as [[pqTopK]] (LUT rows
    * broadcast, distance = sum of m table lookups), with no KMeans job
    * and no embeddings scan anywhere in it.
    */
  def queryPqIndex(spark: org.apache.spark.sql.SparkSession, indexDir: String,
                   probes: Seq[(Long, Array[Double])], k: Int): DataFrame = {
    import spark.implicits._
    val cbRows = graft.streaming.EventStreams
      .readUpsertTable(spark, s"$indexDir/codebooks")
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray))
      .toMap
    val m = cbRows.keys.map(_._1).max + 1
    val codebookSize = cbRows.keys.map(_._2).max + 1
    val cbs = Array.tabulate(m, codebookSize)((j, c) => cbRows((j, c)))
    val sub = cbs(0)(0).length
    probes.foreach { case (pid, pv) =>
      require(pv.length == m * sub,
        s"probe $pid has dimension ${pv.length}; index at $indexDir expects " +
          s"${m * sub} (m=$m subspaces x $sub-wide, from the codebooks table)")
    }
    val lutRows = probes.map { case (pid, pv) =>
      val lut = Seq.tabulate(m) { j =>
        cbs(j).toSeq.map { c =>
          var s = 0.0
          var i = 0
          while (i < sub) { val d = pv(j * sub + i) - c(i); s += d * d; i += 1 }
          s
        }
      }
      (pid, lut)
    }.toDF("probe_id", "lut")
    val encoded = graft.streaming.EventStreams
      .readUpsertTable(spark, s"$indexDir/codes")
    val scored = encoded.crossJoin(broadcast(lutRows))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(sqrt(aggregate(
          zip_with(col("codes"), col("lut"), (c, row) => element_at(row, c + 1)),
          lit(0.0), (a, x) => a + x)), 6).as("dist"))
    topKPerProbeDist(scored, k)
  }

  /** COMPOSED IVF-PQ index — the index every production ANN service
    * actually runs (the FAISS `IVFx,PQy` shape): IVF's coarse
    * quantizer PARTITIONS, PQ COMPRESSES, and the two compose — the
    * codes table is hive-partitioned by IVF cell, and each vector's PQ
    * codes encode its RESIDUAL against its cell centroid (residual
    * encoding is what makes the composition better than either half:
    * residuals are centered near zero, so the same codebook budget
    * quantizes them far more finely than raw vectors). Persisted
    * layout, all built with the fixed-seed training conventions:
    *
    *   - `indexDir/centroids`: (cell, centroid) — nlist tiny rows;
    *   - `indexDir/codebooks`: (subspace, code, centroid) —
    *     m × codebookSize tiny rows, trained on the residuals;
    *   - `indexDir/codes`: (vec_id, codes) partitioned by `cell` —
    *     m small ints per vector, NO raw vector column.
    *
    * A probe prunes to its `nprobe` nearest cells (static partition
    * pruning on the codes scan — the q122 I/O argument) AND scans only
    * compressed codes within them (the q155 memory argument): probe
    * I/O is corpus · nprobe / nlist · (m / (4·dim)) of a raw scan —
    * both composition factors multiply.
    *
    * Build cost: one KMeans for the coarse quantizer, the narrow
    * argmin cell assignment, one residual projection (checkpointed —
    * it feeds the m subspace fits AND the encode), m subspace KMeans
    * fits, one partitioned write. At 100 TB every fit trains on a
    * sample; assignment/encode are one narrow codegen'd pass.
    *
    * `trainFraction` is the explicit sampling dial for that trade
    * (round-11 debt #4, the standard FAISS `train on a sample, add
    * everything` shape): both the coarse fit and the codebook fits
    * train on a deterministic Bernoulli sample of the corpus, while
    * assignment and encoding still cover EVERY vector — the codes
    * table is complete regardless. 1.0 (the default) is bit-identical
    * to the unsampled build. The caller keeps the sample comfortably
    * above nlist (and codebookSize per subspace) rows; at real corpus
    * sizes a fraction like 0.01 is the point of the knob.
    */
  def buildIvfPqIndex(embeddings: DataFrame, indexDir: String,
                      nlist: Int = 8, m: Int = 8, codebookSize: Int = 16,
                      dim: Int = 64, maxIter: Int = 5,
                      trainFraction: Double = 1.0): Unit = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    require(trainFraction > 0.0 && trainFraction <= 1.0,
      s"trainFraction must be in (0, 1], got $trainFraction")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = emb(embeddings).withColumn("fv", array_to_vector(col("v")))
    val trainE =
      if (trainFraction >= 1.0) e
      else e.sample(withReplacement = false, trainFraction, 42L)
    val coarse = new KMeans().setK(nlist).setSeed(42L).setMaxIter(maxIter)
      .setInitMode("random")
      .setFeaturesCol("fv").setPredictionCol("cell")
      .fit(trainE.select(col("fv")))
    val centers = coarse.clusterCenters.map(_.toArray)
    // residual per row, narrowly: v - centroid[cell] with the nlist×dim
    // centroid matrix riding as a plan literal; checkpointed because it
    // feeds m + 1 consumers (the subspace fits and the encode)
    val centLit = array(centers.map(c => array(c.toSeq.map(lit): _*)).toSeq: _*)
    val resid = assignCellsByCentroids(embeddings, centers)
      .withColumn("v",
        zip_with(col("v"), element_at(centLit, col("cell") + 1), (a, b) => a - b))
      .select(col("vec_id"), col("cell"), col("v"))
      .localCheckpoint()
    val residTrain =
      if (trainFraction >= 1.0) resid
      else resid.sample(withReplacement = false, trainFraction, 43L)
    val cbs = pqCodebooksOnVec(residTrain, m, codebookSize, dim, maxIter)
    // COMMIT ORDER is the atomicity contract: (1) clear the codes root
    // — stale batches would mix with the new batch 0 under
    // freshly-trained artifacts and silently mis-score (their codes
    // were encoded under the old centroids/codebooks), and with no
    // readable codes a racing probe sees an empty index, never a wrong
    // one; (2) publish BOTH training artifacts (staged dir + rename,
    // the publishCodesBatch protocol — a reader/appender never sees a
    // half-written artifact table); (3) publish the codes batch LAST.
    // Invariant: a readable codes table always implies the matching
    // committed centroids/codebooks — a crash anywhere in (1)-(3)
    // leaves an index with no codes, which probes as empty and a
    // re-run build repairs.
    locally {
      import org.apache.hadoop.fs.Path
      val root = new Path(s"$indexDir/codes")
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(root)) fs.delete(root, true)
    }
    publishArtifact(
      centers.map(_.toSeq).zipWithIndex.map { case (c, i) => (i, c) }.toSeq
        .toDF("cell", "centroid"),
      s"$indexDir/centroids")
    publishArtifact(
      (for { j <- 0 until m; c <- 0 until codebookSize }
        yield (j, c, cbs(j)(c).toSeq)).toDF("subspace", "code", "centroid"),
      s"$indexDir/codebooks")
    // batch=0 under the codes root: appends ([[appendToIvfPqIndex]])
    // publish sibling batch dirs, and partition discovery prunes on
    // BOTH partition columns — a probe's cell filter skips the
    // non-probed cell dirs of every batch
    publishCodesBatch(
      resid.select(col("vec_id"), pqCodes(col("v"), cbs).as("codes"), col("cell")),
      indexDir, batchId = 0L)
  }

  /** Atomic publish of one tiny training-artifact table (centroids /
    * codebooks): write staged under a dot-dir, then delete-old +
    * RENAME — the reader-visible switch is the single rename, so an
    * appender or probe never reads a half-written artifact file (the
    * non-atomic `mode("overwrite")` it replaces could expose one).
    */
  private def publishArtifact(df: DataFrame, dest: String): Unit = {
    import org.apache.hadoop.fs.Path
    val destPath = new Path(dest)
    val fs = destPath.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val staged = new Path(destPath.getParent, s".inflight-${destPath.getName}")
    if (fs.exists(staged)) fs.delete(staged, true) // crashed attempt
    df.coalesce(1).write.mode("overwrite").parquet(staged.toString)
    if (fs.exists(destPath)) fs.delete(destPath, true)
    if (!fs.rename(staged, destPath))
      throw new IllegalStateException(s"failed to publish artifact at $dest")
  }

  /** Atomic, replay-idempotent publish of one codes batch: write into a
    * hidden inflight dir (partition discovery ignores dot-dirs), then
    * RENAME to `batch=<id>` — one atomic metadata operation, so a
    * reader never sees a half-written batch and a replayed batchId
    * no-ops (the mergeBatchIntoTable contract, re-expressed for a
    * hive-partitioned layout whose cell dirs must stay prunable).
    * The rename is followed by a codes-manifest commit naming the live
    * batch dirs (see [[compactIvfPqIndex]]): the manifest's maxBatch is
    * the applied-batch high-water mark, so a replay of a batch whose
    * dir a compaction already FOLDED AND SWEPT still no-ops instead of
    * resurrecting pre-compaction data. A crash between the rename and
    * the manifest commit replays into the manifest publish alone (the
    * dir-exists branch), completing the interrupted append.
    */
  private def publishCodesBatch(codes: DataFrame, indexDir: String,
                                batchId: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = codes.sparkSession
    val root = new Path(s"$indexDir/codes")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val current = latestCodesManifest(fs, root)
    if (current.exists(_._2 >= batchId)) return // replayed batch (possibly already compacted away)
    val dest = new Path(root, s"batch=$batchId")
    if (!fs.exists(dest)) {
      val inflight = new Path(root, s".inflight-$batchId")
      if (fs.exists(inflight)) fs.delete(inflight, true) // crashed attempt
      codes.write.mode("overwrite").partitionBy("cell").parquet(inflight.toString)
      // spark writes a _SUCCESS marker inside; the rename is the commit
      if (!fs.rename(inflight, dest))
        throw new IllegalStateException(
          s"failed to publish codes batch $batchId at $dest")
    }
    val dirs = current match {
      case Some((_, _, live)) => (live :+ dest.getName).distinct.sorted
      // first manifest on a pre-manifest index adopts every existing
      // batch dir as the initial live set (the mergeBatchIntoTable
      // migration convention)
      case None => discoverBatchDirs(fs, root)
    }
    publishCodesManifest(fs, root,
      current.map(_._1 + 1).getOrElse(0L), batchId, dirs)
  }

  // --------------------------------------------------------------------
  // Codes-root manifest: the live-batch-dir ledger of an IVF-PQ index
  // --------------------------------------------------------------------

  /** Consolidated-codes writer shared by [[compactIvfPqIndex]] and
    * [[deleteFromIvfPqIndex]] — the skew-safe half of "one file per
    * cell": a flat `repartition(cell)` makes a HOT cell (exactly the
    * occupancy skew [[cellOccupancyDrift]] exists to detect) one
    * straggler task writing one oversized file. With a finite
    * `maxRowsPerFile`, each cell splits into ceil(rows / maxRowsPerFile)
    * salted writer tasks — per-cell counts are a bounded collect (nlist
    * rows, the coarse-quantizer contract that already bounds the
    * centroid collects) riding as a map literal — so the hot cell's dir
    * holds several bounded files instead of one giant one, and a probe
    * of that cell fans across them. Salting is WRITE-layout only: rows,
    * codes and the `cell=` dirs are unchanged, so probe answers are
    * bit-identical whatever the salt (DedupSimilaritySpec asserts it
    * with a planted hot cell). The default (MaxValue) keeps the exact
    * one-file-per-cell layout. File counts are upper bounds — salted
    * tasks that hash-collide merge their files, never split further.
    */
  private def writeConsolidatedCodes(codes: DataFrame, dest: String,
                                     maxRowsPerFile: Long): Unit = {
    require(maxRowsPerFile > 0, s"maxRowsPerFile must be > 0, got $maxRowsPerFile")
    val salted =
      if (maxRowsPerFile == Long.MaxValue) None
      else {
        // barrier: the occupancy count and the write both consume the
        // merged frame
        val c = codes.localCheckpoint()
        // bounded collect: nlist (cell, splits) pairs
        val splits = c.groupBy(col("cell")).agg(count(lit(1)).as("cnt"))
          .collect()
          .map(r => r.getInt(0) ->
            math.max(1L, (r.getLong(1) + maxRowsPerFile - 1) / maxRowsPerFile))
          .toMap
        if (splits.isEmpty) None
        else {
          val splitLit = map(splits.toSeq.sortBy(_._1)
            .flatMap { case (cell, n) => Seq(lit(cell), lit(n.toInt)) }: _*)
          val nParts = math.max(1L, splits.values.sum).toInt
          Some(c.withColumn("__salt",
              pmod(hash(col("vec_id")), element_at(splitLit, col("cell"))))
            .repartition(nParts, col("cell"), col("__salt"))
            .drop("__salt"))
        }
      }
    salted.getOrElse(codes.repartition(col("cell")))
      .write.mode("overwrite").partitionBy("cell").parquet(dest)
  }

  /** COMPACT the IVF-PQ codes table — the small-files cure for the
    * [[appendToIvfPqIndex]] path (each append publishes one
    * `batch=<id>` dir forever; at production cadence a probed cell
    * opens one file PER APPEND). All live batch dirs merge into ONE
    * consolidated `batch=<batchId>` dir written with one file per cell
    * (or, with a finite `maxRowsPerFile`, a bounded handful per HOT
    * cell — the skew dial, see [[writeConsolidatedCodes]]), so
    * post-compaction a probe opens O(nprobe) files regardless of how
    * many appends built the index. The commit protocol is the
    * manifest-chain recipe the upsert tables use
    * (EventStreams.mergeBatchIntoTable), re-expressed for a
    * hive-partitioned layout whose `cell=` dirs must stay prunable:
    *
    *   - the consolidated dir stages hidden and publishes by RENAME
    *     (the [[appendToIvfPqIndex]] protocol — a racing probe never
    *     sees a half-written dir);
    *   - the COMMIT is the next `_batches/<seq>.json` manifest naming
    *     the consolidated dir as the only live dir (tiny-object rename
    *     — readers resolve the highest committed manifest, so a read
    *     interleaving anywhere sees either the old batch-dir set or the
    *     consolidated one, NEVER both → probe results are bit-identical
    *     through the compaction, no duplicate candidates);
    *   - superseded batch dirs are swept only AFTER the commit, and
    *     only when unreferenced by the newest `retain` manifests
    *     (retain > 1 keeps the pre-compaction snapshot's dirs readable
    *     — the upsert tables' time-travel dial); a crash between
    *     commit and sweep self-heals on the next compaction.
    *
    * Codes are pure (vec_id, codes, cell) rows encoded under the FROZEN
    * artifacts, so merging batch dirs cannot change any probe's
    * candidate set or ADC distances — DedupSimilaritySpec asserts
    * bit-identical probe results and the file-count drop; q174 runs the
    * append → compact → probe chain through the correctness gate.
    * `batchId` must exceed every applied batch (it becomes the new
    * high-water mark); a replayed compaction no-ops and re-sweeps.
    */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                        indexDir: String, batchId: Long,
                        retain: Int = 1,
                        maxRowsPerFile: Long = Long.MaxValue): Unit = {
    import org.apache.hadoop.fs.Path
    require(retain >= 1, s"retain must be >= 1, got $retain")
    val root = new Path(s"${activeIndexRoot(spark, indexDir)}/codes")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val current = latestCodesManifest(fs, root)
    if (current.exists(_._2 >= batchId)) { // replay: commit already landed
      sweepUnreferencedCodes(fs, root, retain)
      return
    }
    val dirs = current.map(_._3).getOrElse(discoverBatchDirs(fs, root))
    if (dirs.size <= 1 &&
        current.forall(c => readRemovalTokens(fs, root)
          .forall(_._1 > c._2))) return // nothing to consolidate or fold away
    val raw = spark.read.option("basePath", root.toString)
      .parquet(dirs.map(d => new Path(root, d).toString): _*)
    // consolidate THROUGH the removal rule — the fold is where logical
    // removals become physical drops, never a resurrection
    val merged = current.map(c => applyRemovals(spark, fs, root, raw, c._2))
      .getOrElse(raw)
      .select(col("vec_id"), col("codes"), col("cell"))
    val dest = new Path(root, s"batch=$batchId")
    if (!fs.exists(dest)) {
      val inflight = new Path(root, s".inflight-$batchId")
      if (fs.exists(inflight)) fs.delete(inflight, true)
      // default: one task (hence ONE file) per cell; a finite
      // maxRowsPerFile splits hot cells into bounded salted files
      // (see [[writeConsolidatedCodes]])
      writeConsolidatedCodes(merged, inflight.toString, maxRowsPerFile)
      if (!fs.rename(inflight, dest))
        throw new IllegalStateException(
          s"failed to publish compacted codes at $dest")
    }
    publishCodesManifest(fs, root,
      current.map(_._1 + 1).getOrElse(0L), batchId, Seq(dest.getName))
    sweepUnreferencedCodes(fs, root, retain)
  }

  /** TAKEDOWN for the composed IVF-PQ index — the deletion path the
    * committed-artifact family needed here too (q177's argument, ANN
    * flavor): remove a vector set from the codes table so probes can
    * never return them. Codes are per-row encodings under FROZEN
    * artifacts — no offsets, no cross-row state — so deletion is a
    * filter, not a re-lay: all live batch dirs merge minus the deleted
    * ids into one consolidated dir ([[compactIvfPqIndex]]'s machinery
    * and commit protocol: staged rename, manifest commit, retained
    * sweep — a racing probe sees the old set or the new set, never a
    * half-delete), and every surviving vector's codes — hence its ADC
    * distance to any probe — are bit-identical to before
    * (DedupSimilaritySpec asserts survivors' probe results equal the
    * pre-delete results with the deleted ids removed). Deleting
    * everything leaves a readable empty index (probes return no rows,
    * not an error). `vecIds` is the takedown set (bounded by contract —
    * request lists, riding as a plan literal). Replays no-op via the
    * manifest high-water mark; later appends must use higher batchIds.
    */
  def deleteFromIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                           indexDir: String, vecIds: Seq[Long],
                           batchId: Long, retain: Int = 1,
                           maxRowsPerFile: Long = Long.MaxValue): Unit = {
    import org.apache.hadoop.fs.Path
    require(retain >= 1, s"retain must be >= 1, got $retain")
    val root = new Path(s"${activeIndexRoot(spark, indexDir)}/codes")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val current = latestCodesManifest(fs, root)
    if (current.exists(_._2 >= batchId)) { // replay: commit already landed
      sweepUnreferencedCodes(fs, root, retain)
      return
    }
    val dirs = current.map(_._3).getOrElse(discoverBatchDirs(fs, root))
    if (dirs.isEmpty) return // nothing committed: nothing to delete
    val rawAll = spark.read.option("basePath", root.toString)
      .parquet(dirs.map(d => new Path(root, d).toString): _*)
    // the takedown consolidates THROUGH the removal rule too: a row an
    // upsert already hid must not resurrect in the rewritten snapshot
    val remaining = current.map(c => applyRemovals(spark, fs, root, rawAll, c._2))
      .getOrElse(rawAll)
      .select(col("vec_id"), col("codes"), col("cell"))
      .filter(!col("vec_id").isin(vecIds: _*))
      // barrier: the emptiness check below and the write are two
      // consumers of the filtered frame
      .localCheckpoint()
    val dest = new Path(root, s"batch=$batchId")
    if (!fs.exists(dest)) {
      val inflight = new Path(root, s".inflight-$batchId")
      if (fs.exists(inflight)) fs.delete(inflight, true)
      if (remaining.isEmpty)
        // partitionBy writes nothing for an empty frame, and a fileless
        // dir strands readers on schema inference: land one explicit
        // empty (schema-carrying) file under a cell dir instead
        remaining.drop("cell").coalesce(1)
          .write.mode("overwrite").parquet(s"$inflight/cell=0")
      else
        writeConsolidatedCodes(remaining, inflight.toString, maxRowsPerFile)
      if (!fs.rename(inflight, dest))
        throw new IllegalStateException(
          s"failed to publish post-takedown codes at $dest")
    }
    publishCodesManifest(fs, root,
      current.map(_._1 + 1).getOrElse(0L), batchId, Seq(dest.getName))
    sweepUnreferencedCodes(fs, root, retain)
  }

  /** ANN-side CALIBRATION DRIFT — the q179 staleness question asked of
    * the composed index: "is the frozen coarse quantizer still a good
    * partitioner for what is arriving?". The committed codes table IS
    * the reference distribution (per-cell occupancy — no extra state to
    * maintain, the index maintains it by existing); an arriving shard
    * assigns to cells under the FROZEN centroids (one narrow argmin
    * pass, the append path's own first step) and the two occupancy
    * histograms compare by PSI over the nlist cells (add-one smoothed,
    * the q179 arithmetic — engine-portable, exactly 0 for an identical
    * distribution). A drifted verdict is the retrain signal: probes
    * still answer correctly (encoding is exact under any centroids),
    * but cell pruning degrades as mass concentrates away from the
    * training distribution — occupancy skew is precisely what breaks
    * the corpus·nprobe/nlist probe-I/O model. Cost: one aggregate over
    * codes (which probes already scan) + one shard pass the append is
    * already paying. Returns ONE row: (n_ref, n_new, psi, drifted).
    */
  def cellOccupancyDrift(spark: org.apache.spark.sql.SparkSession,
                         indexDir: String, shard: DataFrame,
                         threshold: Double = 0.2): DataFrame = {
    val aRoot = activeIndexRoot(spark, indexDir)
    val centers = spark.read.parquet(s"$aRoot/centroids")
      .collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
    val nlist = centers.length
    val ref = readIvfPqCodes(spark, aRoot)
      .groupBy(col("cell")).agg(count(lit(1)).as("cnt"))
    val neu = assignCellsByCentroids(shard, centers)
      .groupBy(col("cell")).agg(count(lit(1)).as("ncnt"))
    val joined = spark.range(nlist).select(col("id").cast("int").as("cell"))
      .join(ref, Seq("cell"), "left").join(neu, Seq("cell"), "left")
      .select(col("cell"), coalesce(col("cnt"), lit(0L)).as("cnt"),
        coalesce(col("ncnt"), lit(0L)).as("ncnt"))
      .localCheckpoint() // two consumers: totals + PSI terms (q179 rule)
    val t = joined.agg(sum(col("cnt")), sum(col("ncnt"))).head()
    val (nRef, nNew) = (t.getLong(0), t.getLong(1))
    joined
      .withColumn("p", (col("cnt") + 1).cast("double") / (nRef + nlist))
      .withColumn("q", (col("ncnt") + 1).cast("double") / (nNew + nlist))
      .agg(round(sum((col("p") - col("q")) * log(col("p") / col("q"))), 6)
        .as("psi"))
      .select(lit(nRef).as("n_ref"), lit(nNew).as("n_new"), col("psi"),
        (col("psi") >= threshold).as("drifted"))
  }

  /** The codes table of ONE RESOLVED generation root: exactly the
    * batch dirs the latest committed codes manifest names (basePath
    * keeps BOTH partition columns, so cell pruning still skips
    * non-probed dirs), with committed REMOVALS applied
    * ([[applyRemovals]] — the index-upsert read rule), falling back to
    * whole-root partition discovery for pre-manifest indexes (which
    * cannot hold removal tokens). Callers resolve the generation first
    * ([[activeIndexRoot]]).
    */
  private def readIvfPqCodes(spark: org.apache.spark.sql.SparkSession,
                             indexDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val root = new Path(s"$indexDir/codes")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    latestCodesManifest(fs, root) match {
      case Some((_, maxBatch, dirs)) if dirs.nonEmpty =>
        applyRemovals(spark, fs, root,
          spark.read.option("basePath", root.toString)
            .parquet(dirs.map(d => new Path(root, d).toString): _*), maxBatch)
      case _ => spark.read.parquet(root.toString)
    }
  }

  // --------------------------------------------------------------------
  // Index UPSERTS: logical removals + frozen-artifact re-encode
  // --------------------------------------------------------------------

  private def removalsDir(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root, "_removals")

  /** Commit one removal token: the ids whose codes from batches BEFORE
    * `batchId` stop being served once the codes watermark reaches
    * `batchId`. Tmp + rename; a replayed commit's token already exists
    * (same batchId ⇒ same window ⇒ same set) and is kept.
    */
  private def writeRemovalToken(fs: org.apache.hadoop.fs.FileSystem,
                                root: org.apache.hadoop.fs.Path,
                                batchId: Long, ids: Seq[Long]): Unit = {
    if (ids.isEmpty) return
    val dir = removalsDir(root)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val name = f"r$batchId%019d.json"
    val dest = new org.apache.hadoop.fs.Path(dir, name)
    if (fs.exists(dest)) return
    val body =
      s"""{"batchId":$batchId,"ids":[${ids.distinct.sorted.mkString(",")}]}"""
    val tmp = new org.apache.hadoop.fs.Path(dir, s".$name.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, dest))
      throw new IllegalStateException(s"failed to commit removal token $dest")
  }

  /** Every committed removal token: (batchId, ids), commit order.
    * Bounded by contract: tokens are per-upsert-window change sets
    * (updates/takedowns, never the corpus) and compaction GCs the
    * inert ones — the read is O(windows since the last fold).
    */
  private def readRemovalTokens(fs: org.apache.hadoop.fs.FileSystem,
                                root: org.apache.hadoop.fs.Path): Seq[(Long, org.apache.hadoop.fs.Path, Seq[Long])] = {
    val dir = removalsDir(root)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".json"))
      .sortBy(_.getPath.getName)
      .map { s =>
        val in = fs.open(s.getPath)
        val body = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        val id = """"batchId":(-?\d+)""".r.findFirstMatchIn(body)
          .getOrElse(throw new IllegalStateException(
            s"unparseable removal token ${s.getPath} (tokens commit via " +
              "tmp+rename, so this is external corruption); restore or " +
              "remove it ONLY if the removal is no longer needed"))
          .group(1).toLong
        val ids = """"ids":\[([^\]]*)\]""".r.findFirstMatchIn(body)
          .map(_.group(1)).filter(_.nonEmpty)
          .map(_.split(",").map(_.trim.toLong).toSeq).getOrElse(Seq.empty)
        (id, s.getPath, ids)
      }.toSeq
  }

  /** Serve a codes frame MINUS the removals committed at or below this
    * snapshot's watermark: a removal at batch R hides an id's codes
    * from batches BEFORE R (its replacement, written AT R or later,
    * still serves — the upsert semantic; a plain delete simply has no
    * replacement). One broadcast anti-join against the fold-bounded
    * removal set; a token above the watermark belongs to an in-flight
    * or future commit and must not apply (readers see committed state
    * only). The physical drop happens at the next consolidation
    * ([[compactIvfPqIndex]]/[[deleteFromIvfPqIndex]] read through this
    * rule, so a fold can never resurrect a removed row), after which
    * the tokens are inert and [[sweepUnreferencedCodes]] collects them.
    */
  private def applyRemovals(spark: org.apache.spark.sql.SparkSession,
                            fs: org.apache.hadoop.fs.FileSystem,
                            root: org.apache.hadoop.fs.Path,
                            codes: DataFrame, watermark: Long): DataFrame = {
    val rem = readRemovalTokens(fs, root).filter(_._1 <= watermark)
    if (rem.isEmpty) codes
    else {
      val byId = rem.flatMap { case (b, _, ids) => ids.map(_ -> b) }
        .groupBy(_._1).map { case (id, bs) => (id, bs.map(_._2).max) }.toSeq
      import spark.implicits._
      val remDf = byId.toDF("__rid", "__rb")
      codes.join(broadcast(remDf),
        codes("vec_id") === remDf("__rid") &&
          codes("batch").cast("long") < remDf("__rb"), "left_anti")
    }
  }

  /** UPSERT into the composed IVF-PQ index WITHOUT an O(index)
    * rewrite — the serving-index half of CDC. One commit (`batchId`)
    * does both halves: `removeIds`' existing codes stop being served
    * (a removal token, logical — O(changed) metadata) and `changed`'s
    * rows encode under the FROZEN artifacts as an appended batch
    * (O(changed) data — [[appendToIvfPqIndex]]'s path). An updated id
    * appears in both: its old code is hidden, its new code (written at
    * this very batch) serves. Readers below the new watermark keep the
    * exact old state (tokens apply only once the manifest reaches
    * them), so time travel and pinned audits are unaffected. The
    * physical drop and token GC ride the next consolidation; until
    * then every probe pays one broadcast anti-join against the
    * fold-bounded removal set — the nightly-fold dial, same shape as
    * the delta table's reconcile. Replays no-op via the codes
    * watermark; the append-vs-rebuild race check applies.
    */
  def upsertIntoIvfPqIndex(changed: DataFrame, removeIds: Seq[Long],
                           indexDir: String, batchId: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = changed.sparkSession
    val aRoot = activeIndexRoot(spark, indexDir)
    val root = new Path(s"$aRoot/codes")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val current = latestCodesManifest(fs, root)
    if (current.exists(_._2 >= batchId)) return // replayed commit
    require(current.isDefined,
      s"$indexDir has no committed codes manifest; build the index " +
        "(buildIvfPqIndex) before upserting into it")
    val hasNew = !changed.isEmpty
    // token first: it is inert until the manifest below advances to
    // batchId, so a crash between the two replays cleanly and readers
    // never see the removal without its commit
    writeRemovalToken(fs, root, batchId, removeIds)
    if (hasNew) appendAtRoot(changed, indexDir, aRoot, batchId)
    else {
      // removal-only commit: the manifest advance IS the publish
      val (seq, _, dirs) = current.get
      publishCodesManifest(fs, root, seq + 1, batchId, dirs)
      val after = activeIndexRoot(spark, indexDir)
      if (after != aRoot)
        throw new IllegalStateException(
          s"concurrent rebuild re-pointed $indexDir while batch $batchId " +
            s"was committing (resolved $aRoot, active is now $after): " +
            "re-run the upsert — the new generation has no record of it.")
    }
  }

  /** Metadata-only BACKLOG of the serving index's incremental commits:
    * (live codes batch dirs, removal tokens still hiding something at
    * the current watermark — i.e. some live dir holds a batch older
    * than the token). The nightly-fold monitor's read: one manifest +
    * one token listing, never a codes file. A folded index reads
    * (1, 0) — retained-for-time-travel tokens that no longer apply to
    * the current snapshot do not count (they would re-trigger the fold
    * every night for nothing).
    */
  def indexBacklog(spark: org.apache.spark.sql.SparkSession,
                   indexDir: String): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val root = new Path(s"${activeIndexRoot(spark, indexDir)}/codes")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    latestCodesManifest(fs, root) match {
      case Some((_, wm, dirs)) =>
        def dirBatch(d: String): Long = d.stripPrefix("batch=").toLong
        val hiding = readRemovalTokens(fs, root).count { case (tid, _, _) =>
          tid <= wm && dirs.exists(d => dirBatch(d) < tid)
        }
        (dirs.size, hiding)
      case None => (discoverBatchDirs(fs, root).size, 0)
    }
  }

  /** Keep a serving IVF-PQ index synchronized with a keyed upsert
    * table from its CHANGE FEED
    * ([[graft.streaming.EventStreams.readChangeFeed]]): pull the net
    * changes since this consumer's cursor, hide every changed key's
    * old codes, append the upserted rows' new codes (one commit at the
    * source watermark), then advance the cursor — the 100 TB serving
    * loop (CDC in → table → feed → index fresh) with O(changed window)
    * work per pass, never a table or index scan. EXACTLY-ONCE: the
    * index commit replays via the codes watermark, the cursor pin
    * holds the feed's base snapshot, and a crash anywhere re-runs to
    * the same state. The window's changed keys ride driver-side
    * (bounded by contract: an update/takedown batch). Returns
    * (from, to, upserts, deletes), None when already current.
    */
  def syncIndexFromFeed(spark: org.apache.spark.sql.SparkSession,
                        srcDir: String, indexDir: String,
                        consumer: String): Option[(Long, Long, Long, Long)] = {
    import graft.streaming.EventStreams
    val from = EventStreams.feedCursor(spark, srcDir, consumer).getOrElse(
      throw new IllegalStateException(
        s"no cursor for consumer '$consumer' on $srcDir; build the index " +
          "from the current snapshot and bootstrapFeedCursor first"))
    val wm = EventStreams.latestCommittedBatchId(spark, srcDir).getOrElse(
      throw new IllegalStateException(s"$srcDir lost its manifest chain"))
    if (wm == from) return None
    require(wm > from,
      s"$srcDir's watermark $wm is behind the cursor $from — resync")
    val feed = EventStreams.readChangeFeed(spark, srcDir, from, Some(wm))
      .localCheckpoint()
    val ups = feed.filter(col(EventStreams.changeTypeCol) === "upsert")
      .drop(EventStreams.changeTypeCol)
    // bounded collect: the window's changed keys
    val touched = feed.select(col("vec_id")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val nDels = feed.filter(col(EventStreams.changeTypeCol) === "delete").count()
    upsertIntoIvfPqIndex(ups, touched, indexDir, batchId = wm)
    EventStreams.advanceFeedCursor(spark, srcDir, consumer, wm)
    Some((from, wm, touched.size - nDels, nDels))
  }

  /** The codes manifest's applied-batch high-water mark and live dirs,
    * None when the index has no manifest yet. Exposed for
    * [[graft.streaming.IndexStream]]'s fail-fast base check.
    */
  private[graft] def codesHighWater(spark: org.apache.spark.sql.SparkSession,
                                    indexDir: String): Option[(Long, Seq[String])] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(s"${activeIndexRoot(spark, indexDir)}/codes")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    latestCodesManifest(fs, root).map { case (_, maxBatch, dirs) => (maxBatch, dirs) }
  }

  private def codesManifestDir(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root, "_batches")

  private def discoverBatchDirs(fs: org.apache.hadoop.fs.FileSystem,
                                root: org.apache.hadoop.fs.Path): Seq[String] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName).sorted.toSeq

  /** Committed codes manifests, oldest → newest (zero-padded names). */
  private def codesManifestList(fs: org.apache.hadoop.fs.FileSystem,
                                root: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
    val dir = codesManifestDir(root)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".json"))
      .map(_.getPath).sortBy(_.getName).toSeq
  }

  /** Parse one codes manifest: (seq, maxBatch, live batch-dir names).
    * Same writer-owned no-escape JSON + two-regex parse as the upsert
    * manifests (EventStreams.readManifest).
    */
  private def readCodesManifest(fs: org.apache.hadoop.fs.FileSystem,
                                p: org.apache.hadoop.fs.Path): (Long, Long, Seq[String]) = {
    val in = fs.open(p)
    val s = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    def num(k: String) = ("\"" + k + "\":(-?\\d+)").r.findFirstMatchIn(s)
      .getOrElse(throw new IllegalStateException(s"malformed codes manifest $p"))
      .group(1).toLong
    val dirs = """"dirs":\[([^\]]*)\]""".r.findFirstMatchIn(s)
      .map(_.group(1)).filter(_.nonEmpty)
      .map(_.split(",").map(_.stripPrefix("\"").stripSuffix("\"")).toSeq)
      .getOrElse(Seq.empty)
    (num("seq"), num("maxBatch"), dirs)
  }

  private def latestCodesManifest(fs: org.apache.hadoop.fs.FileSystem,
                                  root: org.apache.hadoop.fs.Path): Option[(Long, Long, Seq[String])] =
    codesManifestList(fs, root).lastOption.map(readCodesManifest(fs, _))

  /** Atomic commit point of the codes ledger: temp write + one
    * tiny-object rename (the EventStreams.publishManifest protocol).
    */
  private def publishCodesManifest(fs: org.apache.hadoop.fs.FileSystem,
                                   root: org.apache.hadoop.fs.Path, seq: Long,
                                   maxBatch: Long, dirs: Seq[String]): Unit = {
    val dir = codesManifestDir(root)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val body = s"""{"seq":$seq,"maxBatch":$maxBatch,"dirs":[""" +
      dirs.sorted.map(d => "\"" + d + "\"").mkString(",") + "]}"
    val name = f"$seq%019d.json"
    val tmp = new org.apache.hadoop.fs.Path(dir, s".$name.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    val dest = new org.apache.hadoop.fs.Path(dir, name)
    if (fs.exists(dest)) { fs.delete(tmp, false); return } // replayed seq
    if (!fs.rename(tmp, dest))
      throw new IllegalStateException(s"failed to commit codes manifest $dest")
  }

  /** Delete batch dirs referenced by NONE of the newest `retain`
    * manifests (plus stale inflight stages). A PINNED codes snapshot's
    * resolving manifest ([[pinCodes]]: last committed strictly below
    * the pinned batch) keeps its dirs regardless of `retain`. Runs only
    * after a commit; re-running is always safe (it re-derives the
    * retained set).
    */
  private def sweepUnreferencedCodes(fs: org.apache.hadoop.fs.FileSystem,
                                     root: org.apache.hadoop.fs.Path,
                                     retain: Int): Int = {
    val manifests = codesManifestList(fs, root)
    if (manifests.isEmpty) return 0
    val parsed = manifests.map(readCodesManifest(fs, _))
    val pinnedDirs = readCodesPins(fs, root).values.toSeq.distinct
      .flatMap(b => parsed.filter(_._2 < b).lastOption.toSeq.flatMap(_._3))
    // reuse the already-parsed chain — a second read of the retained
    // manifests would be a round trip per object store commit
    val keep = (parsed.takeRight(retain).flatMap(_._3) ++ pinnedDirs).toSet
    val sweep = discoverBatchDirs(fs, root).filterNot(keep)
    sweep.foreach(d => fs.delete(new org.apache.hadoop.fs.Path(root, d), true))
    fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".inflight-"))
      .foreach(s => fs.delete(s.getPath, true))
    // GC removal tokens no retained or pinned snapshot can still apply:
    // a token is live for a snapshot iff its id is at or below that
    // snapshot's watermark AND the snapshot still serves a batch dir
    // older than the token (something left to hide). A token above
    // every watermark belongs to a crashed commit whose replay rewrites
    // it before re-committing, so sweeping it is safe too.
    val pinnedManifests = readCodesPins(fs, root).values.toSeq.distinct
      .flatMap(b => parsed.filter(_._2 < b).lastOption)
    val snapshots = parsed.takeRight(retain) ++ pinnedManifests
    def dirBatch(d: String): Long = d.stripPrefix("batch=").toLong
    readRemovalTokens(fs, root).foreach { case (tid, p, _) =>
      val live = snapshots.exists { case (_, wm, dirs) =>
        tid <= wm && dirs.exists(d => dirBatch(d) < tid)
      }
      if (!live) fs.delete(p, false)
    }
    sweep.size
  }

  // --------------------------------------------------------------------
  // Index GENERATIONS: versioned rebuilds of the composed IVF-PQ index
  // --------------------------------------------------------------------

  /** ACT on the q183 drift signal — the retrain step [[cellOccupancyDrift]]
    * was raising for nobody (the recalibrateGate template, ANN flavor:
    * monitors must have an operation that consumes them, or a drifted
    * index keeps its degraded probe-I/O model forever). A rebuild
    * retrains the coarse centroids AND the residual codebooks over the
    * CURRENT committed corpus — the vectors the index actually serves,
    * including every append since the last training — and publishes the
    * result as a NEW index GENERATION:
    *
    *   - `indexDir/gen=<g>/{centroids, codebooks, codes}`: a complete,
    *     self-contained index built by the [[buildIvfPqIndex]] protocol
    *     (staged hidden, ONE rename publishes the whole generation);
    *   - `indexDir/_generations/<seq>.json`: the generation ledger —
    *     the COMMIT is the next manifest naming the new generation
    *     ACTIVE (`readers resolve the highest committed manifest, so a
    *     probe interleaving anywhere serves the old generation or the
    *     new one, never a mix of artifacts — exactly the codes-manifest
    *     argument, one level up);
    *   - prior generations stay readable within `retain` manifests
    *     (rollback + [[queryIvfPqIndexAt]] time travel); an index that
    *     pre-dates generations is adopted as generation 0 at the flat
    *     root (the legacy-layout adoption convention; the flat root is
    *     never swept).
    *
    * Post-rebuild, [[appendToIvfPqIndex]] / [[compactIvfPqIndex]] /
    * [[deleteFromIvfPqIndex]] / [[cellOccupancyDrift]] /
    * [[queryIvfPqIndex]] all resolve the ACTIVE generation first, so
    * appends encode under the NEW artifacts (each generation has its
    * own codes manifest, starting at batch 0) and the q183 self-check
    * CLOSES: re-assigning the index's own source vectors under the new
    * frozen centroids reproduces the committed occupancy exactly — PSI
    * is 0.0, not "small" (DedupSimilaritySpec asserts it, and that the
    * rebuilt index is bit-identical to a from-scratch build over the
    * same vectors; q184 runs drift → rebuild → self-drift-zero through
    * the correctness gate).
    *
    * `embeddings` is the committed corpus asset holding (at least) the
    * indexed vectors' raw embeddings — the same keep-the-source
    * contract [[Packing.deleteDocsFromSequences]] documents; the
    * rebuild semi-joins it to the committed vec_ids, so extra corpus
    * rows are ignored and a MISSING indexed vector simply drops out
    * (deletion-by-omission is not supported here: takedown goes
    * through [[deleteFromIvfPqIndex]]). `generation` must exceed every
    * committed generation id; replays no-op via the ledger.
    *
    * `fromCorpus = true` skips the membership semi-join and indexes
    * the passed corpus AS the membership — the HEAL mode: a DAMAGED
    * index's committed vec_ids may be unreadable (that is what is
    * being healed), and the committed corpus is the source of truth
    * the derived index regenerates from
    * ([[graft.operators.Maintenance.runOnce]]'s index heal leg).
    *
    * 100 TB shape: one semi-join (32-byte ids broadcast against the
    * corpus scan), then exactly the build cost — sampled KMeans fits,
    * one narrow assignment/encode pass, one partitioned write
    * (`trainFraction` < 1 trains the fits on a deterministic sample
    * while still encoding every committed vector — the
    * [[buildIvfPqIndex]] dial, which is where a real-corpus rebuild's
    * cost actually lives). The old generation serves probes untouched
    * throughout.
    */
  def rebuildIvfPqIndex(embeddings: DataFrame, indexDir: String,
                        generation: Long, nlist: Int = 8, m: Int = 8,
                        codebookSize: Int = 16, dim: Int = 64,
                        maxIter: Int = 5, retain: Int = 2,
                        trainFraction: Double = 1.0,
                        fromCorpus: Boolean = false): Unit = {
    import org.apache.hadoop.fs.Path
    require(generation > 0, s"generation must be > 0, got $generation")
    require(retain >= 1, s"retain must be >= 1, got $retain")
    val spark = embeddings.sparkSession
    val root = new Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val current = latestGenManifest(fs, root)
    // replay guard on the HIGHEST generation ever committed (active OR
    // retained), not just the active one: after a rollback the active
    // id is lower, and a replayed rebuild of an already-committed
    // generation must no-op, not silently re-activate it (re-activation
    // is [[rollbackIvfPqIndex]]'s explicit job)
    if (current.exists(c =>
        math.max(c._2, c._3.map(genIdOf).max) >= generation)) {
      sweepUnreferencedGens(fs, root, retain)
      return
    }
    val src =
      if (fromCorpus) embeddings // heal mode: the damaged index's
        // membership may be unreadable; the corpus IS the membership
      else embeddings.join(indexedVecIds(spark, indexDir),
        Seq("vec_id"), "left_semi")
    val dest = new Path(root, s"gen=$generation")
    if (!fs.exists(dest)) {
      val inflight = new Path(root, s".inflight-gen-$generation")
      if (fs.exists(inflight)) fs.delete(inflight, true) // crashed attempt
      buildIvfPqIndex(src, inflight.toString, nlist, m, codebookSize, dim,
        maxIter, trainFraction)
      if (!fs.rename(inflight, dest))
        throw new IllegalStateException(
          s"failed to publish index generation $generation at $dest")
    }
    val live = current match {
      case Some((_, _, l)) => l
      // first manifest on a pre-generation index adopts the flat root
      // as generation 0 ("." — the legacy-layout adoption convention)
      case None => Seq(".")
    }
    // the ledger names the RETAINED generations only (newest `retain`
    // by id, plus every PINNED generation — pins must stay in the
    // ledger or queryIvfPqIndexAt/rollback lose them) — an unbounded
    // dirs list would defeat the sweep; dropping "." from the ledger
    // retires legacy generation 0 from reads but never deletes the
    // flat root (see [[sweepUnreferencedGens]])
    val all = (live :+ dest.getName).distinct
    val pinnedGens = readGenPins(fs, root).values.toSet
    val dirs = (all.filter(d => pinnedGens.contains(genIdOf(d))) ++
      all.sortBy(genIdOf).takeRight(retain)).distinct.sortBy(genIdOf)
    publishGenManifest(fs, root, current.map(_._1 + 1).getOrElse(0L),
      generation, dirs)
    sweepUnreferencedGens(fs, root, retain)
  }

  /** The CLOSED maintenance loop — monitor and operation in one call:
    * measure [[cellOccupancyDrift]] of the arriving shard against the
    * committed index and, when the PSI crosses `threshold`, run
    * [[rebuildIvfPqIndex]] as `generation` over the committed corpus
    * (`embeddings` is the corpus asset, the rebuild contract). The
    * scheduled-maintenance shape: a stable shard costs exactly the
    * monitor's one aggregate + one argmin pass and commits NOTHING; a
    * drifted shard pays the retrain once and the ledger flips probes
    * atomically. Returns ONE row — the drift verdict plus what was
    * done: (n_ref, n_new, psi, drifted, rebuilt, generation).
    * Replay-safe: the rebuild's own generation guard makes a repeated
    * call with the same `generation` a no-op.
    */
  def rebuildIfDrifted(spark: org.apache.spark.sql.SparkSession,
                       indexDir: String, embeddings: DataFrame,
                       shard: DataFrame, generation: Long,
                       threshold: Double = 0.2, nlist: Int = 8, m: Int = 8,
                       codebookSize: Int = 16, dim: Int = 64,
                       maxIter: Int = 5, retain: Int = 2,
                       trainFraction: Double = 1.0): DataFrame = {
    import spark.implicits._
    val d = cellOccupancyDrift(spark, indexDir, shard, threshold).head()
    val drifted = d.getBoolean(3)
    if (drifted)
      rebuildIvfPqIndex(embeddings, indexDir, generation, nlist, m,
        codebookSize, dim, maxIter, retain, trainFraction)
    Seq((d.getLong(0), d.getLong(1), d.getDouble(2), drifted, drifted,
        generation))
      .toDF("n_ref", "n_new", "psi", "drifted", "rebuilt", "generation")
  }

  /** ROLLBACK: re-activate a retained prior generation — the cheap half
    * of the rebuild story (a bad retrain must be one tiny manifest
    * commit away from undone, or nobody rebuilds in production). Pure
    * ledger operation: the target generation's artifacts are still on
    * disk (within `retain`), so the commit is one manifest naming it
    * active again. Appends after a rollback extend the re-activated
    * generation's own codes manifest.
    */
  def rollbackIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                         indexDir: String, generation: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (seq, active, dirs) = latestGenManifest(fs, root).getOrElse(
      throw new IllegalArgumentException(
        s"$indexDir has no generation ledger; nothing to roll back"))
    if (active == generation) return // replay / already active
    require(dirs.exists(d => genIdOf(d) == generation),
      s"generation $generation of $indexDir is not retained " +
        s"(live: ${dirs.map(genIdOf).sorted.mkString(", ")}); it was swept " +
        "past the retain window and cannot be re-activated")
    publishGenManifest(fs, root, seq + 1, generation, dirs)
  }

  /** TIME TRAVEL probe: run [[queryIvfPqIndex]] against a RETAINED
    * prior generation — the mirror of EventStreams.readUpsertTableAt
    * for the ANN family, and the audit read the rebuild story needs
    * (reproduce a pre-rebuild probe's results while the retention
    * window still covers that generation's artifacts).
    */
  def queryIvfPqIndexAt(spark: org.apache.spark.sql.SparkSession,
                        indexDir: String, generation: Long,
                        probes: Seq[(Long, Array[Double])], k: Int,
                        nprobe: Int = 2): DataFrame = {
    import org.apache.hadoop.fs.Path
    val root = new Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = latestGenManifest(fs, root) match {
      case Some((_, _, live)) => live
      case None => Seq(".") // pre-generation index: generation 0 only
    }
    val dir = dirs.find(d => genIdOf(d) == generation).getOrElse(
      throw new IllegalArgumentException(
        s"generation $generation of $indexDir is not retained " +
          s"(live: ${dirs.map(genIdOf).sorted.mkString(", ")})"))
    queryIvfPqAtRoot(spark, resolveGenDir(indexDir, dir), probes, k, nprobe)
  }

  /** [[indexedVecIds]] AS OF a codes batch boundary: the ACTIVE
    * generation's codes read from the last codes manifest committed
    * strictly BELOW `batchId` — the ANN side of the pinned
    * cross-artifact audit ([[Takedown.auditDocsAt]]). The pin must sit
    * within the codes retention window (the delete/compact `retain`
    * dial); a pre-manifest index is one frozen snapshot, valid at any
    * pin. Fails fast when manifests exist but none pre-dates the pin.
    */
  def indexedVecIdsBefore(spark: org.apache.spark.sql.SparkSession,
                          indexDir: String, batchId: Long): DataFrame =
    vecIdsBeforeAtRoot(spark, indexDir,
      activeIndexRoot(spark, indexDir), batchId)

  /** [[indexedVecIdsBefore]] resolved through a RETENTION PIN instead
    * of the ACTIVE generation — the read that makes
    * [[graft.operators.Takedown.pinForAudit]]'s "audit at leisure,
    * days later" durable across rebuilds: a rebuild flips the active
    * generation and the new generation's codes batch-ids restart at 0,
    * so an active-resolved `before batch B` read would silently answer
    * from the wrong epoch (typically the post-takedown universe — the
    * one answer a pre-request audit must never return). Resolves the
    * generation the pin holds; an index with no generation pin under
    * this label (a flat pre-generation index, where nothing can flip)
    * falls back to the active root.
    */
  def indexedVecIdsBeforePinned(spark: org.apache.spark.sql.SparkSession,
                                indexDir: String, label: String,
                                batchId: Long): DataFrame = {
    import org.apache.hadoop.fs.Path
    graft.streaming.PinTokens.requireLabel(label)
    val root = new Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val aRoot = readGenPins(fs, root).get(label) match {
      case Some(g) => latestGenManifest(fs, root) match {
        case Some((_, _, dirs)) =>
          val d = dirs.find(dd => genIdOf(dd) == g).getOrElse(
            throw new IllegalStateException(
              s"pin '$label' holds generation $g of $indexDir but the " +
                "ledger no longer retains it — was the pin released (or " +
                "expired) while this audit still needed it?"))
          resolveGenDir(indexDir, d)
        case None =>
          // pinned flat (generation 0) and nothing rebuilt since: the
          // flat root IS the pinned generation
          require(g == 0L, s"pin '$label' holds generation $g of " +
            s"$indexDir but no generation ledger exists")
          indexDir
      }
      case None => activeIndexRoot(spark, indexDir)
    }
    vecIdsBeforeAtRoot(spark, indexDir, aRoot, batchId)
  }

  private def vecIdsBeforeAtRoot(spark: org.apache.spark.sql.SparkSession,
                                 indexDir: String, aRoot: String,
                                 batchId: Long): DataFrame = {
    import org.apache.hadoop.fs.Path
    val root = new Path(s"$aRoot/codes")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifests = codesManifestList(fs, root).map(readCodesManifest(fs, _))
    val codes =
      if (manifests.isEmpty) spark.read.parquet(root.toString)
      else {
        val (_, wm, dirs) = manifests.filter(_._2 < batchId).lastOption
          .getOrElse(throw new IllegalArgumentException(
            s"$indexDir has no codes commit before batch $batchId " +
              "(the pinned audit needs a snapshot below its pin)"))
        // removals apply AT THE RESOLVED WATERMARK: an upsert committed
        // after the audit boundary must not hide what the boundary saw
        applyRemovals(spark, fs, root,
          spark.read.option("basePath", root.toString)
            .parquet(dirs.map(d => new Path(root, d).toString): _*), wm)
      }
    codes.select(col("vec_id")).distinct()
  }

  /** The COMMITTED generation ledger as a DataFrame — one row per
    * ledger manifest in commit order: (seq, active, dirs). The audit
    * read of the rebuild/rollback story: the manifests are never
    * swept (only generation DIRS are), so the full lifecycle — which
    * generation was active when, and crucially which operations
    * committed NOTHING (a replayed rebuild after a rollback must not
    * re-activate; q187 pins the [1, 0, 1] cycle through the
    * correctness gate) — is re-derivable from disk at query time.
    */
  def generationLedger(spark: org.apache.spark.sql.SparkSession,
                       indexDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val root = new Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // bounded driver-side read: one tiny JSON per ledger commit,
    // bounded by the number of rebuild/rollback operations ever run
    genManifestList(fs, root).map(readGenManifest(fs, _))
      .toDF("seq", "active", "dirs")
  }

  /** The highest generation id ever committed (active OR retained in
    * any ledger entry) — None for a pre-generation flat index. What a
    * caller needs to pick the next rebuild's `generation`
    * (rebuildIvfPqIndex's replay guard no-ops at or below this).
    */
  def maxCommittedGeneration(spark: org.apache.spark.sql.SparkSession,
                             indexDir: String): Option[Long] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    latestGenManifest(fs, root).map(c =>
      math.max(c._2, c._3.map(genIdOf).max))
  }

  // --------------------------------------------------------------------
  // Index PINS: durable retention holds (the EventStreams.pinBatch
  // contract applied to the ANN family's two retention layers)
  // --------------------------------------------------------------------

  private def genPinsDir(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(genManifestDir(root), "_pins")

  private def codesPinsDir(codesRoot: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(codesManifestDir(codesRoot), "_pins")

  private val pinLabelRe = graft.streaming.PinTokens.labelRe

  /** PIN a generation: rebuild/rollback dirs-bounding and the
    * generation sweep keep it — and keep it IN THE LEDGER, so
    * [[queryIvfPqIndexAt]] and [[rollbackIvfPqIndex]] stay valid on it —
    * until [[unpinGeneration]], regardless of the maintenance calls'
    * `retain`. The durable form of the rebuild story's audit window:
    * `retain = N` is a rolling hold the next N rebuilds consume; a pin
    * holds one named generation. Must be taken while the generation is
    * still retained (pinning a swept generation is unrecoverable — fail
    * fast); token commits tmp + rename; same-label re-pin at the same
    * generation no-ops, at a different one fails loudly (unpin first).
    */
  def pinGeneration(spark: org.apache.spark.sql.SparkSession,
                    indexDir: String, label: String, generation: Long,
                    expiresAtMillis: Long = Long.MaxValue): Unit = {
    import org.apache.hadoop.fs.Path
    require(pinLabelRe.findFirstIn(label).isDefined,
      s"pin label '$label' must match ${pinLabelRe.regex}")
    val root = new Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (_, _, dirs) = latestGenManifest(fs, root).getOrElse(
      throw new IllegalArgumentException(
        s"$indexDir has no generation ledger; a pre-generation index is " +
          "one frozen root (never swept) — nothing to pin"))
    require(dirs.exists(d => genIdOf(d) == generation),
      s"generation $generation of $indexDir is not retained " +
        s"(live: ${dirs.map(genIdOf).sorted.mkString(", ")}); only a " +
        "still-retained generation can be pinned")
    readGenPins(fs, root).get(label) match {
      case Some(g) if g == generation => return // replay
      case Some(g) => throw new IllegalStateException(
        s"pin '$label' on $indexDir already holds generation $g; " +
          s"unpinGeneration it before re-pinning at $generation")
      case None =>
    }
    writePinToken(fs, genPinsDir(root), label, "generation", generation,
      expiresAtMillis)
    // pin-vs-maintenance race post-condition: a rebuild sweeping
    // concurrently read the pins BEFORE this token landed — re-check
    // the generation survived (still in the ledger, dir on disk) and
    // fail with the token removed rather than hold nothing
    val stillLive = latestGenManifest(fs, root).exists(_._3.exists(d =>
      genIdOf(d) == generation &&
        (d == "." || fs.exists(new org.apache.hadoop.fs.Path(root, d)))))
    if (!stillLive) {
      fs.delete(new org.apache.hadoop.fs.Path(genPinsDir(root), s"$label.pin"), false)
      throw new IllegalStateException(
        s"pin '$label' on $indexDir raced a concurrent rebuild's " +
          s"retention: generation $generation was retired before the pin " +
          "landed. Pin a generation the current retain window still " +
          "covers (or pause maintenance for the pin).")
    }
  }

  /** Release a generation pin; the NEXT maintenance commit's
    * dirs-bounding drops it from the ledger and the sweep reclaims it
    * (once outside the rolling `retain` window). Returns whether the
    * pin existed.
    */
  def unpinGeneration(spark: org.apache.spark.sql.SparkSession,
                      indexDir: String, label: String): Boolean = {
    import org.apache.hadoop.fs.Path
    graft.streaming.PinTokens.requireLabel(label) // '/'-free: no traversal
    val root = new Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(genPinsDir(root), s"$label.pin"), false)
  }

  /** The committed generation pins: label -> generation id. */
  def listGenerationPins(spark: org.apache.spark.sql.SparkSession,
                         indexDir: String): Map[String, Long] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readGenPins(fs, root)
  }

  /** PIN the ACTIVE generation's codes snapshot strictly below
    * `batchId` — exactly what [[indexedVecIdsBefore]] resolves — so
    * later [[deleteFromIvfPqIndex]]/[[compactIvfPqIndex]] sweeps
    * (whatever their `retain`) keep the pinned audit readable. Returns
    * the resolving codes manifest's seq, or -1 for a pre-manifest
    * (frozen) index where no sweep can ever run. Fails fast when
    * manifests exist but none pre-dates the pin (the
    * [[indexedVecIdsBefore]] contract).
    */
  def pinCodes(spark: org.apache.spark.sql.SparkSession, indexDir: String,
               label: String, batchId: Long,
               expiresAtMillis: Long = Long.MaxValue): Long =
    pinCodesAtRoot(spark, activeIndexRoot(spark, indexDir), indexDir,
      label, batchId, expiresAtMillis)

  /** [[pinCodes]] against a PRE-RESOLVED generation root —
    * [[pinIndexForAudit]] resolves the active root ONCE and passes it
    * through both halves, so a rebuild landing between the generation
    * pin and the codes pin cannot split them across epochs (ADVICE
    * r12: the independent re-resolution left the generation pin on the
    * old generation and the codes pin inside the new one).
    */
  private def pinCodesAtRoot(spark: org.apache.spark.sql.SparkSession,
                             genRoot: String, indexDir: String,
                             label: String, batchId: Long,
                             expiresAtMillis: Long): Long = {
    import org.apache.hadoop.fs.Path
    require(pinLabelRe.findFirstIn(label).isDefined,
      s"pin label '$label' must match ${pinLabelRe.regex}")
    val codesRoot = new Path(s"$genRoot/codes")
    val fs = codesRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifests = codesManifestList(fs, codesRoot).map(readCodesManifest(fs, _))
    if (manifests.isEmpty) return -1L // frozen pre-manifest index
    val resolving = manifests.filter(_._2 < batchId).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"$indexDir has no codes commit before batch $batchId; " +
          "nothing to pin"))
    readCodesPins(fs, codesRoot).get(label) match {
      case Some(b) if b == batchId => return resolving._1 // replay
      case Some(b) => throw new IllegalStateException(
        s"codes pin '$label' on $indexDir already holds batch $b; " +
          s"unpinCodes it before re-pinning at $batchId")
      case None =>
    }
    writePinToken(fs, codesPinsDir(codesRoot), label, "batchId", batchId,
      expiresAtMillis)
    // pin-vs-sweep race post-condition (the pinBatch contract shape):
    // re-check the resolving manifest's dirs survived a sweep that
    // read pins before this token landed
    val sweptAway = resolving._3.filterNot(d =>
      fs.exists(new org.apache.hadoop.fs.Path(codesRoot, d)))
    if (sweptAway.nonEmpty) {
      fs.delete(new org.apache.hadoop.fs.Path(codesPinsDir(codesRoot), s"$label.pin"), false)
      throw new IllegalStateException(
        s"codes pin '$label' on $indexDir raced a concurrent retention " +
          s"sweep: ${sweptAway.size} dir(s) of the snapshot below batch " +
          s"$batchId were reclaimed before the pin landed. Pin a boundary " +
          "the current retain window still covers (or pause writers).")
    }
    resolving._1
  }

  /** Release a codes pin ON THE ACTIVE GENERATION. Returns whether the
    * pin existed. A pin taken on a generation that has since been
    * retired needs no release: a retired generation receives no
    * maintenance commits, so nothing ever sweeps inside it.
    */
  def unpinCodes(spark: org.apache.spark.sql.SparkSession, indexDir: String,
                 label: String): Boolean = {
    import org.apache.hadoop.fs.Path
    graft.streaming.PinTokens.requireLabel(label) // '/'-free: no traversal
    val codesRoot = new Path(s"${activeIndexRoot(spark, indexDir)}/codes")
    val fs = codesRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(codesPinsDir(codesRoot), s"$label.pin"), false)
  }

  /** One-call audit hold on the composed index ([[Takedown.auditDocsAt]]
    * durability): pin the ACTIVE generation (so a rebuild's retention
    * cannot retire the artifacts the audit reads) and its codes
    * snapshot strictly below `batchId` (so delete/compact sweeps keep
    * the pre-pin batch dirs). A pre-generation flat index skips the
    * generation half (the flat root is never swept by design).
    *
    * The two halves pin ONE epoch: the active root resolves once, the
    * codes pin lands inside that same root, and a post-condition
    * re-checks the active generation did not flip in between — a
    * concurrent rebuild racing the two halves releases both and fails
    * loudly (retry against the new epoch) instead of leaving the
    * generation pin on the old epoch and the codes pin in the new one
    * (ADVICE r12).
    *
    * Returns the resolved codes-manifest seq the audit will read (-1
    * for a frozen pre-manifest index, which no sweep can ever touch).
    */
  def pinIndexForAudit(spark: org.apache.spark.sql.SparkSession,
                       indexDir: String, label: String, batchId: Long,
                       expiresAtMillis: Long = Long.MaxValue): Long = {
    import org.apache.hadoop.fs.Path
    val root = new Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pinnedGen = latestGenManifest(fs, root) match {
      case Some((_, active, _)) =>
        pinGeneration(spark, indexDir, label, active, expiresAtMillis)
        active
      case None =>
        // flat pre-generation index: pin generation 0 (the adopted
        // root) DIRECTLY — pinGeneration requires a ledger, but the
        // hold must outlive a LATER rebuild that creates one: the
        // rebuild's dirs-bounding unions this pin so "." stays in the
        // ledger, and [[indexedVecIdsBeforePinned]] keeps resolving
        // the flat epoch the audit was pinned against
        writePinToken(fs, genPinsDir(root), label, "generation", 0L,
          expiresAtMillis)
        0L
    }
    // a failed second half must not strand the first: an unreleased
    // generation pin (default: no expiry) is exactly the leak the
    // layer guards against, created by this API's own partial failure
    val resolvedSeq =
      try pinCodesAtRoot(spark, resolveGenDir(indexDir, genDirName(pinnedGen)),
        indexDir, label, batchId, expiresAtMillis)
      catch {
        case e: Exception =>
          unpinGeneration(spark, indexDir, label)
          throw e
      }
    // epoch post-condition: both pins landed — verify no rebuild flipped
    // the active generation between the resolve and the codes pin
    val activeNow = latestGenManifest(fs, root).map(_._2).getOrElse(0L)
    if (activeNow != pinnedGen) {
      unpinCodesAtRoot(spark, resolveGenDir(indexDir, genDirName(pinnedGen)), label)
      unpinGeneration(spark, indexDir, label)
      throw new IllegalStateException(
        s"pinIndexForAudit '$label' on $indexDir raced a concurrent " +
          s"rebuild: generation $pinnedGen was active when the pin began " +
          s"but $activeNow is active now — the two halves would hold " +
          "different epochs. Both pins were released; retry the pin " +
          "against the new active generation.")
    }
    resolvedSeq
  }

  /** Release a codes pin inside a SPECIFIC generation root (the
    * [[pinIndexForAudit]] race-unwind path, where the pinned epoch may
    * no longer be the active one [[unpinCodes]] resolves).
    */
  private def unpinCodesAtRoot(spark: org.apache.spark.sql.SparkSession,
                               genRoot: String, label: String): Boolean = {
    import org.apache.hadoop.fs.Path
    graft.streaming.PinTokens.requireLabel(label)
    val codesRoot = new Path(s"$genRoot/codes")
    val fs = codesRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(codesPinsDir(codesRoot), s"$label.pin"), false)
  }

  /** Release both halves of [[pinIndexForAudit]]. The codes half must
    * release BEFORE the generation half: unpinCodes resolves through
    * the active root, and dropping the generation pin first could let
    * a concurrent rebuild retire the generation the codes pin lives in.
    */
  def unpinIndexForAudit(spark: org.apache.spark.sql.SparkSession,
                         indexDir: String, label: String): Unit = {
    unpinCodes(spark, indexDir, label)
    unpinGeneration(spark, indexDir, label)
    ()
  }

  /** EXPLICIT retention sweep for the composed index — the
    * EventStreams.vacuumUpsertTable analog: inline sweeps ride
    * maintenance commits (rebuild/append/delete/compact), so an index
    * that stopped receiving them holds whatever its released pins were
    * protecting forever. Re-runs both sweeps against the COMMITTED
    * ledgers (generation dirs at the index root, codes batch dirs of
    * the active generation) honoring the pins still held; re-running
    * is always safe (the retained sets re-derive from the manifests).
    */
  def vacuumIndex(spark: org.apache.spark.sql.SparkSession,
                  indexDir: String, retain: Int = 1): Int = {
    import org.apache.hadoop.fs.Path
    require(retain >= 1, s"retain must be >= 1, got $retain")
    val root = new Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens = sweepUnreferencedGens(fs, root, retain)
    val codesRoot = new Path(s"${activeIndexRoot(spark, indexDir)}/codes")
    gens + sweepUnreferencedCodes(fs, codesRoot, retain)
  }

  /** FSCK for the composed IVF-PQ index: verify both committed ledgers
    * (generations at the root, codes batches of the ACTIVE generation)
    * against the filesystem — the EventStreams.fsckUpsertTable analog,
    * one row per invariant (check, ok, n). Checks:
    *
    *   - `ledger_parseable`: every generation manifest parses, filename
    *     seq matches body, seqs strictly increasing, the latest ACTIVE
    *     generation is among its own live dirs (n = ledger commits);
    *   - `generation_dirs_exist`: every dir the latest ledger names,
    *     plus every pinned generation, exists (n = missing);
    *   - `active_artifacts_complete`: the active root has its
    *     centroids / codebooks / codes (n = missing parts);
    *   - `codes_manifests_parseable`: the active generation's codes
    *     manifests parse with strictly increasing seqs (n = commits);
    *   - `codes_dirs_exist`: the latest codes manifest's dirs plus
    *     every codes pin's resolving dirs exist (n = missing);
    *   - `pins_resolvable`: generation pins name still-live
    *     generations and codes pins resolve to a committed manifest
    *     (n = pins);
    *   - `no_orphan_codes`: no `batch=` dir unreferenced by every
    *     codes manifest (n = orphans — crash litter; a sweep is due);
    *   - `no_stale_inflight`: no `.inflight-*` staging dirs remain at
    *     the root or under codes (n = stale dirs).
    *
    * Never throws on what it can report (fsck must run on corrupt
    * indexes). Driver-side listings bounded by dir/manifest counts —
    * an explicit maintenance read.
    */
  def fsckIndex(spark: org.apache.spark.sql.SparkSession,
                indexDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val root = new Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val genPaths = genManifestList(fs, root)
    val gens: Seq[(Long, Long, Long, Seq[String])] = genPaths.flatMap { p =>
      try {
        val (seq, active, dirs) = readGenManifest(fs, p)
        Some((p.getName.takeWhile(_ != '.').toLong, seq, active, dirs))
      } catch { case _: Exception => None }
    }
    val ledgerOk = gens.size == genPaths.size &&
      gens.forall { case (name, seq, _, _) => name == seq } &&
      gens.map(_._2).sliding(2).forall(w => w.size < 2 || w(0) < w(1)) &&
      gens.lastOption.forall { case (_, _, active, dirs) =>
        dirs.exists(d => genIdOf(d) == active) }
    val (genPins, genPinsParseable) =
      try (readGenPins(fs, root), true)
      catch { case _: IllegalStateException => (Map.empty[String, Long], false) }
    val liveDirs = gens.lastOption.map(_._4).getOrElse(Seq.empty)
    val wantDirs = (liveDirs ++ genPins.values.map(genDirName)).distinct
    val missingGens = wantDirs.filterNot { d =>
      if (d == ".") fs.exists(new Path(root, "codes"))
      else fs.exists(new Path(root, d))
    }
    // resolve the active root WITHOUT activeIndexRoot (which throws on
    // a ledger naming a vanished active dir — exactly a state fsck
    // must report, not die on)
    val aRoot = gens.lastOption match {
      case Some((_, _, active, dirs)) =>
        dirs.find(d => genIdOf(d) == active)
          .map(d => resolveGenDir(indexDir, d))
      case None => Some(indexDir)
    }
    val missingParts = aRoot.toSeq.flatMap(r =>
      Seq("centroids", "codebooks", "codes")
        .filterNot(p => fs.exists(new Path(s"$r/$p"))))
    val activeOk = aRoot.isDefined && missingParts.isEmpty
    val codesRoot = aRoot.map(r => new Path(s"$r/codes"))
    val codesPaths = codesRoot.map(codesManifestList(fs, _)).getOrElse(Seq.empty)
    val codesParsed: Seq[(Long, Long, Long, Seq[String])] = codesPaths.flatMap { p =>
      try {
        val (seq, maxBatch, dirs) = readCodesManifest(fs, p)
        Some((p.getName.takeWhile(_ != '.').toLong, seq, maxBatch, dirs))
      } catch { case _: Exception => None }
    }
    val codesManifestsOk = codesParsed.size == codesPaths.size &&
      codesParsed.forall { case (name, seq, _, _) => name == seq } &&
      codesParsed.map(_._2).sliding(2).forall(w => w.size < 2 || w(0) < w(1))
    val (codesPins, codesPinsParseable) = codesRoot match {
      case Some(cr) =>
        try (readCodesPins(fs, cr), true)
        catch { case _: IllegalStateException => (Map.empty[String, Long], false) }
      case None => (Map.empty[String, Long], true)
    }
    val pinnedCodesDirs = codesPins.values.toSeq.distinct.map(b =>
      b -> codesParsed.filter(_._3 < b).lastOption)
    // a generation-0 pin on a pre-ledger index is the flat-root hold
    // (pinIndexForAudit writes it so a later rebuild keeps "." live)
    val pinsOk = genPinsParseable && codesPinsParseable &&
      genPins.values.forall(g => liveDirs.exists(d => genIdOf(d) == g) ||
        (g == 0L && gens.isEmpty)) &&
      pinnedCodesDirs.forall(_._2.isDefined)
    val wantCodesDirs = (codesParsed.lastOption.map(_._4).getOrElse(Seq.empty) ++
      pinnedCodesDirs.flatMap(_._2).flatMap(_._4)).distinct
    val missingCodes = codesRoot.toSeq.flatMap(cr =>
      wantCodesDirs.filterNot(d => fs.exists(new Path(cr, d))))
    val referencedEver = codesParsed.flatMap(_._4).toSet
    val orphanCodes = codesRoot.toSeq.flatMap(cr =>
      discoverBatchDirs(fs, cr).filterNot(referencedEver)
        .filter(_ => codesParsed.nonEmpty)) // pre-manifest: batch=0 is live, not orphan
    val inflight =
      (if (fs.exists(root)) fs.listStatus(root).toSeq else Seq.empty).filter(s =>
          s.isDirectory && s.getPath.getName.startsWith(".inflight-")) ++
        codesRoot.toSeq.flatMap(cr =>
          if (fs.exists(cr)) fs.listStatus(cr).toSeq.filter(s =>
            s.isDirectory && s.getPath.getName.startsWith(".inflight-"))
          else Seq.empty)
    // removal tokens (index upserts): a damaged token would fail every
    // read LOUDLY at probe time — fsck flags it first (the report-not-
    // throw posture), counting the parseable tokens when healthy
    val (removalTokens, removalsParseable) = codesRoot match {
      case Some(cr) =>
        try (readRemovalTokens(fs, cr).size, true)
        catch { case _: IllegalStateException => (0, false) }
      case None => (0, true)
    }
    Seq(
      ("ledger_parseable", ledgerOk, gens.size.toLong),
      ("generation_dirs_exist", missingGens.isEmpty, missingGens.size.toLong),
      ("active_artifacts_complete", activeOk, missingParts.size.toLong),
      ("codes_manifests_parseable", codesManifestsOk, codesParsed.size.toLong),
      ("codes_dirs_exist", missingCodes.isEmpty, missingCodes.size.toLong),
      ("pins_resolvable", pinsOk, (genPins.size + codesPins.size).toLong),
      ("removal_tokens_parseable", removalsParseable, removalTokens.toLong),
      ("no_orphan_codes", orphanCodes.isEmpty, orphanCodes.size.toLong),
      ("no_stale_inflight", inflight.isEmpty, inflight.size.toLong))
      .toDF("check", "ok", "n")
  }

  /** Tmp + rename pin token — the ONE shared definition
    * ([[graft.streaming.PinTokens]]), so expiry/corruption semantics
    * cannot drift between the table and index layers.
    */
  private def writePinToken(fs: org.apache.hadoop.fs.FileSystem,
                            dir: org.apache.hadoop.fs.Path, label: String,
                            key: String, value: Long,
                            expiresAtMillis: Long = Long.MaxValue): Unit =
    graft.streaming.PinTokens.write(fs, dir, label, key, value, expiresAtMillis)

  private def readPinTokens(fs: org.apache.hadoop.fs.FileSystem,
                            dir: org.apache.hadoop.fs.Path,
                            key: String): Map[String, Long] =
    graft.streaming.PinTokens.read(fs, dir, key)

  private def readGenPins(fs: org.apache.hadoop.fs.FileSystem,
                          root: org.apache.hadoop.fs.Path): Map[String, Long] =
    readPinTokens(fs, genPinsDir(root), "generation")

  private def readCodesPins(fs: org.apache.hadoop.fs.FileSystem,
                            codesRoot: org.apache.hadoop.fs.Path): Map[String, Long] =
    readPinTokens(fs, codesPinsDir(codesRoot), "batchId")

  /** The committed vector ids of the ACTIVE generation (distinct
    * vec_id column, never collected) — the semi-join side a rebuild
    * trains against, and the id universe a cross-artifact audit checks.
    */
  def indexedVecIds(spark: org.apache.spark.sql.SparkSession,
                    indexDir: String): DataFrame =
    readIvfPqCodes(spark, activeIndexRoot(spark, indexDir))
      .select(col("vec_id")).distinct()

  /** The ACTIVE generation's root dir: the generation ledger's active
    * entry, or the flat `indexDir` itself for a pre-generation index.
    * Every maintenance/read path of the composed index resolves through
    * this, so a rebuild's manifest commit atomically re-points them all.
    */
  private[graft] def activeIndexRoot(spark: org.apache.spark.sql.SparkSession,
                                     indexDir: String): String = {
    import org.apache.hadoop.fs.Path
    val root = new Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    latestGenManifest(fs, root) match {
      case Some((_, active, dirs)) =>
        val dir = dirs.find(d => genIdOf(d) == active).getOrElse(
          throw new IllegalStateException(
            s"generation ledger of $indexDir names active generation " +
              s"$active but no matching dir (live: ${dirs.mkString(", ")})"))
        resolveGenDir(indexDir, dir)
      case None => indexDir
    }
  }

  /** Generation id encoded in a ledger dir name: "." (the adopted flat
    * root) is generation 0; `gen=<g>` carries its id.
    */
  private def genIdOf(dir: String): Long =
    if (dir == ".") 0L else dir.stripPrefix("gen=").toLong

  /** [[genIdOf]]'s inverse: generation 0 is the adopted flat root "."
    * (rebuilds require generation > 0, so `gen=0` never exists on
    * disk — mapping 0 to "gen=0" would make a pinned legacy
    * generation look missing).
    */
  private def genDirName(g: Long): String = if (g == 0L) "." else s"gen=$g"

  private def resolveGenDir(indexDir: String, dir: String): String =
    if (dir == ".") indexDir else s"$indexDir/$dir"

  private def genManifestDir(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root, "_generations")

  /** Parse one generation manifest: (seq, active gen id, live dirs).
    * Same writer-owned no-escape JSON + regex parse as the codes
    * manifests ([[readCodesManifest]]).
    */
  private def readGenManifest(fs: org.apache.hadoop.fs.FileSystem,
                              p: org.apache.hadoop.fs.Path): (Long, Long, Seq[String]) = {
    val in = fs.open(p)
    val s = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    def num(k: String) = ("\"" + k + "\":(-?\\d+)").r.findFirstMatchIn(s)
      .getOrElse(throw new IllegalStateException(s"malformed generation manifest $p"))
      .group(1).toLong
    val dirs = """"dirs":\[([^\]]*)\]""".r.findFirstMatchIn(s)
      .map(_.group(1)).filter(_.nonEmpty)
      .map(_.split(",").map(_.stripPrefix("\"").stripSuffix("\"")).toSeq)
      .getOrElse(Seq.empty)
    (num("seq"), num("active"), dirs)
  }

  private def genManifestList(fs: org.apache.hadoop.fs.FileSystem,
                              root: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
    val dir = genManifestDir(root)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".json"))
      .map(_.getPath).sortBy(_.getName).toSeq
  }

  private def latestGenManifest(fs: org.apache.hadoop.fs.FileSystem,
                                root: org.apache.hadoop.fs.Path): Option[(Long, Long, Seq[String])] =
    genManifestList(fs, root).lastOption.map(readGenManifest(fs, _))

  /** Atomic commit point of the generation ledger (the
    * [[publishCodesManifest]] protocol, one level up).
    */
  private def publishGenManifest(fs: org.apache.hadoop.fs.FileSystem,
                                 root: org.apache.hadoop.fs.Path, seq: Long,
                                 active: Long, dirs: Seq[String]): Unit = {
    val dir = genManifestDir(root)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val body = s"""{"seq":$seq,"active":$active,"dirs":[""" +
      dirs.sorted.map(d => "\"" + d + "\"").mkString(",") + "]}"
    val name = f"$seq%019d.json"
    val tmp = new org.apache.hadoop.fs.Path(dir, s".$name.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    val dest = new org.apache.hadoop.fs.Path(dir, name)
    if (fs.exists(dest)) { fs.delete(tmp, false); return } // replayed seq
    if (!fs.rename(tmp, dest))
      throw new IllegalStateException(s"failed to commit generation manifest $dest")
  }

  /** Explicitly RETIRE the adopted flat-root generation ("."): delete
    * the legacy `centroids`/`codebooks`/`codes` dirs at the index root
    * once the generation ledger no longer retains ".". The automatic
    * sweep never touches the flat root (deleting at the root the
    * ledger itself lives under is not worth the blast radius on a
    * maintenance path), so reclaiming the storage of a rebuilt legacy
    * index is this one deliberate call. Fails fast while "." is still
    * retained (readable history must not be pulled out from under
    * [[queryIvfPqIndexAt]]); no-ops when the artifacts are already
    * gone or no ledger exists (a flat index with no generations is
    * live, not legacy).
    */
  def retireLegacyIndexRoot(spark: org.apache.spark.sql.SparkSession,
                            indexDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    latestGenManifest(fs, root) match {
      case None => // flat index with no generations: live, not legacy
      case Some((_, _, dirs)) =>
        require(!dirs.contains("."),
          s"the flat root of $indexDir is still a retained generation " +
            s"(live: ${dirs.mkString(", ")}); rebuild past the retain " +
            "window before retiring it")
        Seq("centroids", "codebooks", "codes").foreach { d =>
          val p = new Path(root, d)
          if (fs.exists(p)) fs.delete(p, true)
        }
    }
  }

  /** Delete `gen=<g>` dirs referenced by NONE of the newest `retain`
    * generation manifests (plus stale inflight stages). PINNED
    * generations ([[pinGeneration]]) are kept regardless — defense in
    * depth: the publishers already keep pins in the ledger's dirs, so
    * a pinned dir is normally still manifest-referenced, but a pin
    * taken between a publish and its sweep must hold too. The adopted
    * flat root (".") is NEVER swept — its artifacts live at the index
    * root itself, and automatic deletion there is not worth the blast
    * radius ([[retireLegacyIndexRoot]] is the explicit call).
    */
  private def sweepUnreferencedGens(fs: org.apache.hadoop.fs.FileSystem,
                                    root: org.apache.hadoop.fs.Path,
                                    retain: Int): Int = {
    val manifests = genManifestList(fs, root)
    if (manifests.isEmpty) return 0
    val keep = (manifests.takeRight(retain)
      .flatMap(readGenManifest(fs, _)._3) ++
      readGenPins(fs, root).values.map(genDirName)).toSet
    if (!fs.exists(root)) return 0
    val sweep = fs.listStatus(root)
      .filter(s => s.isDirectory &&
        (s.getPath.getName.startsWith("gen=") ||
          s.getPath.getName.startsWith(".inflight-gen-")))
      .filter(s => !keep.contains(s.getPath.getName) ||
        s.getPath.getName.startsWith(".inflight-gen-"))
    sweep.foreach(s => fs.delete(s.getPath, true))
    sweep.length
  }

  /** INCREMENTAL index growth — the FAISS `add` path: new vectors
    * assign to cells and PQ-encode under the FROZEN coarse centroids
    * and residual codebooks read from the committed index (training
    * artifacts never move after build — moving them would silently
    * re-interpret every already-encoded code), and the encoded batch
    * publishes as a sibling `batch=<id>` partition dir. Probes are
    * untouched: [[queryIvfPqIndex]] reads the codes root, and cell
    * pruning applies within every batch dir. No arrival watermark —
    * encoding is per-row against frozen state, so any batch order
    * yields the same index (the q163 argument). Append ≡ rebuild under
    * the same artifacts is proven in DedupSimilaritySpec.
    *
    * CROSS-OPERATION writer contract: within a generation the codes
    * manifest enforces single-writer, but a [[rebuildIvfPqIndex]] is a
    * different protocol one level up — it can flip the ACTIVE
    * generation while an append (which resolved its generation at
    * start) is mid-flight, leaving the batch committed to a root no
    * probe resolves anymore. The append re-checks the active
    * generation AFTER its publish and fails loudly with the
    * remediation instead of silently losing the vectors; schedule
    * rebuilds and appends in non-overlapping maintenance windows to
    * avoid the wasted encode.
    */
  def appendToIvfPqIndex(newVectors: DataFrame, indexDir: String,
                         batchId: Long): Unit = {
    val spark = newVectors.sparkSession
    // resolve the ACTIVE generation: post-rebuild appends must encode
    // under the NEW artifacts and extend the new generation's codes
    // manifest (its batch ids start fresh at the rebuild's batch 0)
    val aRoot = activeIndexRoot(spark, indexDir)
    appendAtRoot(newVectors, indexDir, aRoot, batchId)
  }

  /** [[appendToIvfPqIndex]] against a pre-resolved generation root —
    * split out so the append-vs-rebuild race is provable (the spec
    * resolves a root, rebuilds past it, then publishes here).
    */
  private[graft] def appendAtRoot(newVectors: DataFrame, indexDir: String,
                                  aRoot: String, batchId: Long): Unit = {
    val spark = newVectors.sparkSession
    val centers = spark.read.parquet(s"$aRoot/centroids")
      .collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
    val cbRows = spark.read.parquet(s"$aRoot/codebooks")
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray))
      .toMap
    val m = cbRows.keys.map(_._1).max + 1
    val codebookSize = cbRows.keys.map(_._2).max + 1
    val cbs = Array.tabulate(m, codebookSize)((j, c) => cbRows((j, c)))
    val centLit = array(centers.map(c => array(c.toSeq.map(lit): _*)).toSeq: _*)
    val resid = assignCellsByCentroids(newVectors, centers)
      .withColumn("v",
        zip_with(col("v"), element_at(centLit, col("cell") + 1), (a, b) => a - b))
    publishCodesBatch(
      resid.select(col("vec_id"), pqCodes(col("v"), cbs).as("codes"), col("cell")),
      aRoot, batchId)
    // the race post-condition (see appendToIvfPqIndex doc): a rebuild
    // that flipped the active generation mid-append retired this
    // publish — fail with the replay remediation, never lose it silently
    val aRootAfter = activeIndexRoot(spark, indexDir)
    if (aRootAfter != aRoot)
      throw new IllegalStateException(
        s"concurrent rebuild re-pointed $indexDir while batch $batchId " +
          s"was appending (resolved $aRoot, active is now $aRootAfter): " +
          "the batch landed in the superseded generation and is invisible " +
          "to probes. Re-run the append with the same arguments - the new " +
          "active generation's codes manifest has no record of this batch, " +
          "so the replay applies instead of no-oping. Schedule rebuilds " +
          "and appends in non-overlapping maintenance windows.")
  }

  /** Build-once guard per JVM (the [[ensurePqIndex]] convention:
    * computeIfAbsent blocks concurrent callers until the build lands;
    * a failed build leaves no mapping, so the next caller retries).
    */
  def ensureIvfPqIndex(embeddings: DataFrame, indexDir: String,
                       nlist: Int = 8, m: Int = 8, codebookSize: Int = 16,
                       dim: Int = 64, maxIter: Int = 5): Unit =
    builtPqIndexes.computeIfAbsent(indexDir, { _ =>
      buildIvfPqIndex(embeddings, indexDir, nlist, m, codebookSize, dim, maxIter)
      "built"
    })

  /** Probe the composed index from a COLD session: centroids and
    * codebooks collect driver-side (tiny, bounded); each probe picks
    * its `nprobe` nearest cells there and gets ONE RESIDUAL ADC lookup
    * table per probed cell (LUT of (probe − centroid[cell]) against
    * the residual codebooks — m × codebookSize doubles per
    * (probe, cell), all bounded); the candidate scan reads ONLY the
    * probed `cell=` partition directories of the codes table
    * (PlanSpec-guarded static pruning), joins the broadcast LUT rows
    * on the cell key, and scores each code row as the sum of m table
    * lookups. No KMeans, no embeddings scan, no raw vectors anywhere
    * in the plan.
    */
  def queryIvfPqIndex(spark: org.apache.spark.sql.SparkSession, indexDir: String,
                      probes: Seq[(Long, Array[Double])], k: Int,
                      nprobe: Int = 2): DataFrame =
    queryIvfPqAtRoot(spark, activeIndexRoot(spark, indexDir), probes, k, nprobe)

  /** [[queryIvfPqIndex]] against one RESOLVED generation root (the
    * shared body of the active-generation probe and the
    * [[queryIvfPqIndexAt]] time-travel probe).
    */
  private def queryIvfPqAtRoot(spark: org.apache.spark.sql.SparkSession,
                               indexRoot: String,
                               probes: Seq[(Long, Array[Double])], k: Int,
                               nprobe: Int): DataFrame = {
    import spark.implicits._
    // centroids and codebooks are independent bounded collects — fork
    // so the two small jobs overlap (guide §2.6; the dedicated
    // never-nesting leafPool, see its doc); every IVF-PQ probe path
    // pays them back-to-back otherwise
    val fCenters = forkLeaf(
      spark.read.parquet(s"$indexRoot/centroids")
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).toMap)
    val cbRows = spark.read.parquet(s"$indexRoot/codebooks")
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray))
      .toMap
    val centers = joinLeaf(fCenters)
    val m = cbRows.keys.map(_._1).max + 1
    val codebookSize = cbRows.keys.map(_._2).max + 1
    val cbs = Array.tabulate(m, codebookSize)((j, c) => cbRows((j, c)))
    val sub = cbs(0)(0).length
    probes.foreach { case (pid, pv) =>
      require(pv.length == m * sub,
        s"probe $pid has dimension ${pv.length}; index at $indexRoot expects " +
          s"${m * sub} (m=$m subspaces x $sub-wide, from the codebooks table)")
    }
    val lutRowsLocal = probes.flatMap { case (pid, pv) =>
      centers.toSeq
        .map { case (ci, c) => (ci, l2Dist(pv, c)) }
        .sortBy { case (ci, d) => (d, ci) }.take(nprobe)
        .map { case (ci, _) =>
          val cent = centers(ci)
          val lut = Seq.tabulate(m) { j =>
            cbs(j).toSeq.map { c =>
              var s = 0.0
              var i = 0
              while (i < sub) {
                val d = (pv(j * sub + i) - cent(j * sub + i)) - c(i)
                s += d * d
                i += 1
              }
              s
            }
          }
          (pid, ci, lut)
        }
    }
    val lutRows = lutRowsLocal.toDF("probe_id", "cell", "lut")
    val cells = lutRowsLocal.map(_._2).distinct.sorted
    // isin on the partition column -> only the probed cell dirs are
    // read, within exactly the batch dirs the codes manifest names
    // (post-compaction: one consolidated dir, one file per probed cell)
    val cand = readIvfPqCodes(spark, indexRoot)
      .filter(col("cell").isin(cells.map(Integer.valueOf).toSeq: _*))
    topKPerProbeDist(
      cand.join(broadcast(lutRows), Seq("cell"))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(sqrt(aggregate(
            zip_with(col("codes"), col("lut"), (c, row) => element_at(row, c + 1)),
            lit(0.0), (a, x) => a + x)), 6).as("dist")), k)
  }

  /** TWO-STAGE refined retrieval — the standard serving refinement
    * over a compressed index (FAISS's refine/re-rank stage): the
    * IVF-PQ scan NOMINATES `rerank` candidates per probe from codes
    * alone ([[queryIvfPqIndex]]), and only those rows' RAW vectors are
    * fetched for EXACT L2 ordering. The candidate set is bounded by
    * contract (rerank × probes rows — the bounded-collect convention),
    * so the raw-vector fetch is an `isin`-pushed scan of
    * O(rerank × probes) rows, never a corpus pass; at 100 TB this is
    * the difference between "read m-byte codes for everything, raw
    * floats for ~150 rows" and either extreme (all-raw = no
    * compression win; all-codes = quantization error caps ranking
    * quality). Exact re-ranking provably never loses recall vs the
    * ADC ordering on the same candidates: the true nearest neighbors
    * among the candidates are exactly the ones exact distances rank
    * first (the q169 verdict asserts both the monotone-improvement
    * bound and the q162 floor).
    */
  def queryIvfPqRefined(spark: org.apache.spark.sql.SparkSession,
                        indexDir: String, embeddings: DataFrame,
                        probes: Seq[(Long, Array[Double])], k: Int,
                        rerank: Int, nprobe: Int = 2): DataFrame = {
    import spark.implicits._
    // bounded by contract: rerank candidates per probe
    val cand = queryIvfPqIndex(spark, indexDir, probes, rerank, nprobe)
      .select(col("probe_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ids = cand.map(_._2).distinct.toSeq
    val candDf = cand.toSeq.toDF("probe_id", "vec_id")
    val probeVecs = probes.map { case (pid, pv) => (pid, pv.toSeq) }
      .toDF("probe_id", "qv")
    // isin on the scan key: the raw-vector fetch reads the candidate
    // rows only (pushed filter), then pairs re-attach by equi-join
    val fetched = emb(embeddings)
      .filter(col("vec_id").isin(ids: _*))
      .join(broadcast(candDf), Seq("vec_id"))
      .join(broadcast(probeVecs), Seq("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(Vectors.l2(col("v"), col("qv")), 6).as("dist"))
    topKPerProbeDist(fetched, k)
  }

  /** CONTRASTIVE pair mining — (anchor, positive, hard-negative)
    * triplets for embedding-model training (the DPR / SimCSE data
    * recipe: positives are near-duplicates; HARD negatives are the
    * close-but-not-duplicate neighbors that make the contrastive loss
    * informative, versus easy random negatives). Per anchor: the
    * best same-bucket neighbor with cosine ≥ `posCos` (the positive)
    * and the best with cosine in [`negLo`, `posCos`) (the hard
    * negative); anchors missing either produce no triplet. Ties break
    * (cosine desc, vec_id asc) on the ROUNDED cosine, so the choice is
    * engine-portable.
    *
    * Scale shape: the deterministic hyperplane bucket keeps candidate
    * generation bucket-local (the q29/q44 convention — candidates
    * O(Σ bucket²), never corpus all-pairs), and selection is ONE
    * hash aggregation of lexicographic `max(struct(cos, −id))` pairs —
    * map-side partials, no window over the corpus, no explode. At
    * 100 TB the bucket width (nPlanes) is the knob, exactly as for the
    * ANN family.
    */
  def contrastivePairs(embeddings: DataFrame, nPlanes: Int,
                       posCos: Double, negLo: Double): DataFrame = {
    val e = emb(embeddings)
    val b = e.select(col("vec_id"), col("v"),
      hyperplaneBucket(col("v"), nPlanes, 64).as("bucket"))
    val cand = b.select(col("vec_id").as("anchor_id"), col("v").as("va"), col("bucket"))
      .join(b.select(col("vec_id"), col("v").as("vb"), col("bucket")), Seq("bucket"))
      .filter(col("vec_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("vec_id"),
        round(Vectors.cosine(col("va"), col("vb")), 6).as("cos"))
    cand.groupBy(col("anchor_id"))
      .agg(
        max(when(col("cos") >= posCos,
          struct(col("cos"), (-col("vec_id")).as("nid")))).as("p"),
        max(when(col("cos") >= negLo && col("cos") < posCos,
          struct(col("cos"), (-col("vec_id")).as("nid")))).as("n"))
      .filter(col("p").isNotNull && col("n").isNotNull)
      .select(col("anchor_id"),
        (-col("p.nid")).as("pos_id"), col("p.cos").as("pos_cos"),
        (-col("n.nid")).as("neg_id"), col("n.cos").as("neg_cos"))
  }
}
