package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Hashes, Texts}
import graft.plans.SimHash64.simhash64

/** Near-duplicate detection over the documents corpus ([ext], SURVEY.md
  * §2.8): exact (see SparkEntry q04), n-gram Jaccard, MinHash+LSH,
  * SimHash.
  *
  * Scale design: the LSH paths never form the all-pairs cross join — the
  * only shuffles are (a) explode-by-band + hash-partition on the band
  * key, (b) the candidate-pair verification join. Candidate volume is
  * controlled by the (bands, rows) resolution. The exact-Jaccard variant
  * is intentionally capped — it exists as the correctness oracle for the
  * LSH paths, not as the scale path.
  */
object Dedup {

  private def withTokenSet(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), col("lang"),
      array_distinct(Texts.tokens(col("text"))).as("tok_set"))

  /** Exact pairwise n-gram(=1) Jaccard over a bounded id range, blocked
    * by lang. Quadratic by construction — the oracle for LSH recall.
    */
  def jaccardPairsCapped(documents: DataFrame, idCap: Long, minJaccard: Double): DataFrame = {
    val d = withTokenSet(documents.filter(col("doc_id") < idCap))
    val a = d.select(col("doc_id").as("doc_a"), col("lang"), col("tok_set").as("ta"))
    val b = d.select(col("doc_id").as("doc_b"), col("lang"), col("tok_set").as("tb"))
    a.join(b, Seq("lang"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("jaccard", round(Hashes.jaccardSet(col("ta"), col("tb")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** MinHash + LSH near-dup detection, anchor (star) pattern:
    * shingle -> k-slot signature -> band keys -> per-bucket ANCHOR (min
    * doc_id) -> verify each member only against its bucket anchors ->
    * cluster assignment rep = min verified anchor.
    *
    * Why not all pairs within a bucket: on a dup-heavy corpus (exactly the
    * corpus dedup targets) bucket sizes are large and a bucket self-join is
    * O(bucket^2) — measured 230 s at sf0.1 vs ~2 s for this shape. The
    * anchor pattern caps candidate pairs at docs x bands, and the output a
    * dedup pipeline wants is the cluster assignment anyway (keep rep, drop
    * member). Single-hop transitivity: every member links to its bucket's
    * min id, so dup clusters that share any band bucket collapse to one rep.
    *
    * Returns (doc_id, rep_id, jaccard) for docs that verified against some
    * anchor (rep_id < doc_id); docs absent from the output are their own
    * representatives.
    */
  def minhashNearDups(documents: DataFrame, shingleN: Int = 1, k: Int = 64,
                      bands: Int = 16, minJaccard: Double = 0.9): DataFrame = {
    val rows = k / bands
    // repartition = an explicit exchange boundary: this frame is consumed
    // three times (banding + both verification joins); identical subplans
    // below an exchange are computed once and reused (ReuseExchange), so
    // the tokenization doesn't run 3x. At scale this trades one narrow
    // shuffle of (doc_id, shingles) for two recomputes.
    val toks = documents.select(
      col("doc_id"),
      array_distinct(Texts.shingles(col("text"), shingleN)).as("sh"))
      .filter(size(col("sh")) > 0)
      .repartition(col("doc_id"))
    // PERF: explode the band INDEX first and derive each band key from the
    // `sig` attribute. Building the key array in one expression
    // (transform(seq, b -> hash(slice(sig,..)))) re-evaluates the whole
    // minhash subtree per lambda invocation once CollapseProject inlines
    // `sig` — interpreted higher-order funcs don't cache subexpressions
    // (measured: 123 s vs ~2 s at sf0.1).
    val banded = toks
      .withColumn("sig", Hashes.minhashSignature(col("sh"), k))
      .select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("bkey", xxhash64(slice(col("sig"), col("band") * rows + 1, lit(rows)), col("band")))
      .select(col("doc_id"), col("band"), col("bkey"))
    val anchors = banded.groupBy(col("band"), col("bkey"))
      .agg(min(col("doc_id")).as("anchor"))
    val candidates = banded.join(anchors, Seq("band", "bkey"))
      .filter(col("doc_id") > col("anchor"))
      .select(col("anchor"), col("doc_id"))
      .distinct()
    val verified = candidates
      .join(toks.select(col("doc_id").as("anchor"), col("sh").as("ta")), Seq("anchor"))
      .join(toks.select(col("doc_id"), col("sh").as("tb")), Seq("doc_id"))
      .withColumn("jaccard", round(Hashes.jaccardSet(col("ta"), col("tb")), 6))
      .filter(col("jaccard") >= minJaccard)
    verified.groupBy(col("doc_id"))
      .agg(min(col("anchor")).as("rep_id"), max(col("jaccard")).as("jaccard"))
  }

  /** Convenience: the deduplicated corpus (cluster representatives only). */
  def minhashDedup(documents: DataFrame, minJaccard: Double = 0.9): DataFrame = {
    val dups = minhashNearDups(documents, minJaccard = minJaccard).select("doc_id")
    documents.join(dups, Seq("doc_id"), "left_anti")
  }

  /** Decontamination: drop corpus documents whose content fingerprint
    * appears in a blocklist (e.g. eval-set documents) — THE standard
    * training-data hygiene op. Anti join on the 32-byte SHA, so the
    * shuffle never carries document text; blocklists are usually small
    * enough to broadcast.
    *
    * 100 TB note: the anti ("drop") direction cannot be bloom-
    * prefiltered — rows a bloom rejects are exactly the rows an anti
    * join keeps. The SEMI probe direction ("which docs are
    * contaminated") gets Catalyst's runtime bloom filter for free when
    * the join shuffles: the corpus is pre-filtered by a bloom built
    * from the blocklist BEFORE its shuffle (proven in ScaleOpsSpec).
    * When the blocklist broadcasts, neither side shuffles and the
    * question is moot.
    */
  /** Keep-BEST-of-cluster canonical selection — production dedup's
    * final decision: within each dup cluster, keep the HIGHEST-QUALITY
    * member (longest copy, best quality score — RefinedWeb/FineWeb
    * keep the longest or least-boilerplate version), not the
    * smallest-id anchor the detection stages use internally. Ties
    * break (quality desc, doc_id asc). Docs absent from `clusters` are
    * their own singleton canonicals (the leakageSafeSplit coalesce
    * convention).
    *
    * Input: `clusters` (doc_id, cluster_id) — any closure, e.g.
    * [[connectedComponents]] over near-dup edges; `quality`
    * (doc_id, qCol) for every doc. Returns per doc:
    * (doc_id, cluster_id, canonical_id, is_canonical, qCol).
    *
    * Scale shape: one doc_id equi-join, one lexicographic
    * `max(struct(q, −id))` hash aggregate per cluster (map-side
    * partials — never a window over the corpus), and the |clusters|-row
    * argmax table joins back on the cluster key. Nothing is all-pairs.
    */
  def canonicalByQuality(clusters: DataFrame, quality: DataFrame,
                         qCol: String): DataFrame = {
    // barrier before the TWO consumers below (per-cluster argmax AND
    // the final join-back — the q113/q136 convention): without it the
    // whole quality lineage (corpus scan + tokenize) re-derives per
    // consumer — the r9 plan dump showed the documents scan twice
    val m = quality.join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .localCheckpoint()
    val best = m.groupBy(col("cluster_id"))
      .agg(max(struct(col(qCol), (-col("doc_id")).as("nid"))).as("b"))
      .select(col("cluster_id"), (-col("b.nid")).as("canonical_id"))
    m.join(best, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("canonical_id"),
        (col("doc_id") === col("canonical_id")).as("is_canonical"), col(qCol))
  }

  def decontaminate(corpus: DataFrame, blocklist: DataFrame,
                    corpusText: String = "text", blockText: String = "text"): DataFrame = {
    val blockedFps = blocklist
      .select(sha2(col(blockText), 256).as("__fp")).distinct()
    corpus
      .withColumn("__fp", sha2(col(corpusText), 256))
      .join(blockedFps, Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** Embedding-cosine near-dup detection, same anchor shape as minhash:
    * random-hyperplane buckets (near-parallel vectors share sign
    * patterns) -> per-bucket anchor -> exact-cosine verify member vs
    * anchor -> rep assignment. Candidates are O(rows x 1), never pairs.
    * Multi-probe-style recall comes from using FEW planes (big buckets)
    * — tune (nPlanes, minCos) together.
    */
  def embeddingNearDups(embeddings: DataFrame, minCos: Double = 0.99,
                        nPlanes: Int = 8, dim: Int = 64): DataFrame = {
    import graft.functions.Vectors
    val e = embeddings.select(col("vec_id"),
      Vectors.asDouble(col("embedding")).as("v"))
      .withColumn("bucket", Similarity.hyperplaneBucket(col("v"), nPlanes, dim))
    val anchors = e.groupBy(col("bucket")).agg(min(col("vec_id")).as("anchor"))
    val verified = e.join(anchors, Seq("bucket"))
      .filter(col("vec_id") > col("anchor"))
      .join(e.select(col("vec_id").as("anchor"), col("v").as("av")), Seq("anchor"))
      .withColumn("cosine", round(Vectors.cosine(col("v"), col("av")), 6))
      .filter(col("cosine") >= minCos)
    verified.groupBy(col("vec_id"))
      .agg(min(col("anchor")).as("rep_id"), max(col("cosine")).as("cosine"))
  }

  /** SemDeDup-style SEMANTIC dedup (published recipe: Abbas et al.
    * 2023, "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication"): k-means-cluster the embedding space with
    * the IVF coarse quantizer ([[Similarity.assignCells]] — same fixed
    * seed/init as the ANN index), then prune WITHIN-CLUSTER pairs whose
    * exact cosine exceeds `minCos`, keeping the lowest vec_id of each
    * pair. The layer above near-dup detection that modern pipelines
    * run: [[embeddingNearDups]] catches near-copies (sign-pattern
    * buckets — lexical-ish), this catches semantically redundant docs
    * whose embeddings cluster together.
    *
    * Deterministic keep rule: a doc is dropped iff some LOWER-id doc in
    * its cluster matches it at >= minCos (the paper keeps a
    * per-group representative chosen by centroid distance; lowest-id is
    * the same cardinality with a total order any engine can replay).
    * Within-cluster-ONLY candidates — the plan's pair join keys on the
    * cell id, so no cross-cluster pair is ever formed (PlanSpec proves
    * no cartesian/nested-loop join in q138).
    *
    * Scale shape: candidate volume is sum of cluster-size^2 — the
    * published recipe accepts the quadratic WITHIN clusters and bounds
    * it by scaling nClusters WITH the corpus (the paper runs 110k
    * clusters over LAION; cluster size stays ~O(1000) regardless of
    * corpus size, so per-cluster pairwise is constant work and the
    * whole op is one shuffle on cell + bounded local pairing). A
    * pathologically skewed cell (the minhash 230 s lesson) is cured by
    * raising nClusters, not by the anchor pattern — anchor-vs-member
    * misses member-member pairs, which ARE the semantics here.
    *
    * Returns (vec_id, rep_id, cosine): rep_id = lowest matching
    * lower-id partner, cosine = the strongest match that doomed the
    * doc. Docs absent from the result survive.
    */
  def semanticDedup(embeddings: DataFrame, nClusters: Int = 8,
                    minCos: Double = 0.99, maxIter: Int = 5,
                    centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    import graft.functions.Vectors
    // with pre-trained centroids (the train-once serving shape,
    // Similarity.ensureCellCentroids) assignment is a narrow argmin
    // expression — no k-means fit inside the query
    // per-vector norm projected below the within-cell pair join: the
    // candidate volume is Σ cellsize² pairs, so recomputing both norm
    // folds per PAIR tripled the per-pair array work — cosinePre is
    // bit-identical (same doubles, same op order)
    val assigned = centroids
      .map(c => Similarity.assignCellsByCentroids(embeddings, c))
      .getOrElse(Similarity.assignCells(embeddings, nClusters, maxIter))
      .select(col("vec_id"), col("v"), col("cell"),
        Vectors.norm(col("v")).as("nv"))
    val a = assigned.select(col("cell"), col("vec_id").as("vec_a"),
      col("v").as("va"), col("nv").as("na"))
    val b = assigned.select(col("cell"), col("vec_id"), col("v").as("vb"),
      col("nv").as("nb"))
    a.join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_id"))
      .withColumn("cosine", round(
        Vectors.cosinePre(col("va"), col("vb"), col("na"), col("nb")), 6))
      .filter(col("cosine") >= minCos)
      .groupBy(col("vec_id"))
      .agg(min(col("vec_a")).as("rep_id"), max(col("cosine")).as("cosine"))
  }

  /** [[semanticDedup]] with the CORPUS-SCALED cluster count — acting on
    * the measured q138 scale curve (PLANS.md round 11: 13.7x at 10x):
    * with `nClusters` FIXED, per-cell candidate pairs grow
    * quadratically in corpus size, because every cell's population is
    * n/k. The production dial holds the EXPECTED cell size constant
    * instead: k = clamp(ceil(n / targetCellSize), 1, kMax) — one
    * corpus count (the KMeans fit already pays a full pass), then
    * exactly [[semanticDedup]]. With k so chosen, expected per-cell
    * pairs are O(targetCellSize²) and total candidate volume is LINEAR
    * in n. KMeans balances cells only in expectation — a hot cell is
    * the occupancy-drift monitor's job ([[Similarity.cellOccupancyDrift]]),
    * not this dial's. `kMax` caps the fit cost (centroids are a
    * bounded driver-side artifact, the coarse-quantizer contract).
    */
  def semanticDedupBounded(embeddings: DataFrame, targetCellSize: Int = 1000,
                           minCos: Double = 0.99, maxIter: Int = 5,
                           kMax: Int = 4096): DataFrame =
    semanticDedup(embeddings,
      nClusters = boundedClusterCount(embeddings.count(), targetCellSize, kMax),
      minCos = minCos, maxIter = maxIter)

  /** The [[semanticDedupBounded]] cluster-count rule, exposed so specs
    * and capacity planning share the arithmetic.
    */
  def boundedClusterCount(n: Long, targetCellSize: Int, kMax: Int = 4096): Int = {
    require(targetCellSize > 0, s"targetCellSize must be > 0, got $targetCellSize")
    require(kMax > 0, s"kMax must be > 0, got $kMax")
    math.max(1L, math.min(kMax.toLong,
      (n + targetCellSize - 1) / targetCellSize)).toInt
  }

  /** SimHash fingerprints (custom Catalyst expression) + hamming-bucket
    * near-dup pairs: candidates share at least one 16-bit quarter of the
    * fingerprint (pigeonhole: hamming <= 3 guarantees a shared quarter).
    */
  def simhashFingerprints(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      simhash64(Texts.tokens(col("text"))).as("simhash"))

  /** Generic banded-fingerprint near-dup assignment, anchor (star)
    * pattern — the same shape as [[minhashNearDups]], applied to a
    * bitwise fingerprint: band the hash into `bands` slices of
    * `bandBits` bits, per-(band, key) ANCHOR = min doc_id, verify each
    * member only against its bucket anchors by exact hamming distance,
    * rep = min verified anchor.
    *
    * Why not all pairs within a bucket: a dup-heavy corpus concentrates
    * docs into few buckets and a bucket self-join is O(bucket^2) on one
    * task (the exact skew failure measured for minhash — 230 s vs ~2 s
    * at sf0.1, see [[minhashNearDups]]). The anchor pattern caps
    * candidates at docs x bands regardless of skew.
    *
    * Pigeonhole recall: hamming <= bands - 1 guarantees a shared band,
    * so maxHamming <= bands - 1 has no band-level false negatives
    * (member-vs-anchor assignment is still single-hop, like minhash).
    *
    * `fp` must have columns (doc_id, simhash). Returns
    * (doc_id, rep_id, hamming) for docs assigned to an anchor; absent
    * docs are their own representatives.
    */
  def fingerprintNearDups(fp: DataFrame, bandBits: Int, bands: Int,
                          maxHamming: Int): DataFrame = {
    val mask = (1L << bandBits) - 1
    // explicit exchange boundary: `keyed` feeds banding and both sides of
    // the verification join; ReuseExchange computes the fingerprints once
    val keyed = fp.select(col("doc_id"), col("simhash")).repartition(col("doc_id"))
    val banded = keyed
      .select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(bands - 1))).as("q"))
      // SQL-form shiftright: the Scala overload needs a literal shift
      // amount, this one is per-row (q * bandBits)
      .withColumn("qkey", expr(s"shiftright(simhash, q * $bandBits) & $mask"))
      .select(col("doc_id"), col("q"), col("qkey"))
    val anchors = banded.groupBy(col("q"), col("qkey"))
      .agg(min(col("doc_id")).as("anchor"))
    val candidates = banded.join(anchors, Seq("q", "qkey"))
      .filter(col("doc_id") > col("anchor"))
      .select(col("anchor"), col("doc_id"))
      .distinct()
    candidates
      .join(keyed.select(col("doc_id").as("anchor"), col("simhash").as("ha")), Seq("anchor"))
      .join(keyed.select(col("doc_id"), col("simhash").as("hb")), Seq("doc_id"))
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("doc_id"))
      .agg(min(col("anchor")).as("rep_id"), min(col("hamming")).as("hamming"))
  }

  /** Transitive closure of a near-dup edge list into full clusters via
    * iterative min-label propagation: every node's label converges to
    * the minimum id reachable from it. The single-hop anchor outputs
    * ([[minhashNearDups]] etc.) assign each doc to a bucket-local rep;
    * chains a~b~c where a and c never share a bucket still need the
    * closure — THIS is the cluster id a dedup "keep one per cluster"
    * decision wants.
    *
    * Scale shape: each round is one equi-join + partial-agg min (both
    * map-side combinable), rounds ≈ cluster diameter — near-dup
    * clusters are near-cliques (diameter 2-3), so convergence is fast
    * regardless of corpus size, and the convergence check is a
    * limit(1)-count over a changed flag computed DURING propagation
    * (no extra join, no full count). A checkpoint per round (local by
    * default, reliable on request — see the `reliable` param) cuts the
    * iterative lineage so plans don't grow per round. A super-node (one
    * label joined by a huge share of edges) skews the per-round join's
    * shuffle on `b`; the production answer is AQE's skew-join split,
    * and the per-round checkpoint is what UNLOCKS it: both join inputs
    * are checkpoint scans, so both children arrive through plain
    * ENSURE_REQUIREMENTS exchanges — the only shape OptimizeSkewedJoin
    * splits. (Un-checkpointed, the label side would flow in
    * pre-partitioned through its own aggregate, no shuffle stage to
    * split, and the super-node WOULD straggle — measured both ways on
    * an adversarial star fixture, ScaleOpsSpec.) For adversarial
    * LONG-CHAIN graphs (diameter >> round budget) see `pointerJump`.
    *
    * Returns (node, cluster_id) for every node appearing in `edges`.
    */
  /** Free a localCheckpoint's cached blocks once superseded — the loop
    * below replaces its label frame every round, and without this the
    * orphaned checkpoints accumulate in executor storage for the
    * session lifetime (at real dedup scale, every round's label RDD is
    * O(nodes)). Traverses to the plan's LEAVES: the frame handed in may
    * wrap the checkpointed LogicalRDD in projections (`drop`/`select`
    * over a checkpoint), and matching only the root silently no-ops —
    * exactly the leak this helper exists to prevent.
    */
  private def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  /** @param reliable cut iterative lineage with RELIABLE `checkpoint()`
    *   (files under `sparkContext.setCheckpointDir`) instead of
    *   `localCheckpoint()`. localCheckpoint stores blocks only on
    *   executors: losing one executor mid-iteration makes the whole
    *   multi-round closure unrecoverable — fine at local[32], not for an
    *   hours-long 100 TB corpus closure. The reliable path survives
    *   executor loss (blocks re-read from the checkpoint store);
    *   checkpoint files are reclaimed by the ContextCleaner once the
    *   RDDs are unreferenced, or with the checkpoint dir.
    * @param pointerJump add a path-halving term to each round:
    *   candidate labels include `lab(lab(u))` (one labels⋈labels
    *   self-join), so label distance to the component min HALVES per
    *   round instead of shrinking by one hop — O(log diameter) rounds
    *   on chain graphs (a 300-node path converges in ~10 rounds vs
    *   300). Labels always stay within the component (a label is a
    *   node id of the same component, and so is ITS label), so
    *   correctness is unchanged. Off by default: near-dup graphs are
    *   near-cliques (diameter 2-3) where the extra per-round self-join
    *   costs more than it saves; turn on for edge sets whose diameter
    *   is unknown or adversarial.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 20, reliable: Boolean = false,
                          pointerJump: Boolean = false): DataFrame = {
    require(!reliable || edges.sparkSession.sparkContext.getCheckpointDir.isDefined,
      "reliable=true needs sparkContext.setCheckpointDir(...) — the checkpoint store " +
        "an executor can be lost without losing")
    def cut(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()
    val dir = edges.select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
    // materialize the symmetrized edge list ONCE: it feeds every
    // propagation round, and without the barrier each round re-runs the
    // whole upstream edge-derivation pipeline (for LSH edges that is
    // the full signature+banding+verify plan, per round)
    val sym = cut(dir.unionByName(dir.select(col("b").as("a"), col("a").as("b"))))
    // SMALL-GRAPH FAST PATH (optimization r18) — the connected-
    // components analog of a broadcast join: below a broadcast-sized
    // edge count the iterative closure pays O(rounds) shuffle jobs of
    // driver-round-trip latency to propagate labels a hop at a time,
    // while the whole edge set fits in the driver like any broadcast
    // relation would. Collect it once (bounded by the threshold — the
    // autoBroadcastJoinThreshold posture, conf-dialable, 0 disables),
    // run union–find, and return the identical labeling: cluster_id =
    // min node id of the component, exactly what the iterative
    // min-label propagation converges to. The count is a cheap scan of
    // the just-materialized checkpoint. Above the threshold the
    // distributed rounds run unchanged — the 100 TB path is untouched,
    // and DedupSimilaritySpec pins local ≡ distributed on the same
    // edge sets.
    val localThreshold = edges.sparkSession.conf
      .get("spark.graft.cc.localEdgeThreshold", "500000").toLong
    if (localThreshold > 0 && sym.count() <= localThreshold) {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      sym.collect().foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      }
      unpersistCheckpoint(sym)
      // min-root invariant: unions always attach the larger root under
      // the smaller, so find(x) IS the component minimum
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      parent.keySet().forEach(n => out += ((n, find(n))))
      val spark = edges.sparkSession
      import spark.implicits._
      return out.toSeq.sortBy(_._1).toDF("node", "cluster_id")
    }
    var labels = cut(sym.groupBy(col("a")).agg(min(col("b")).as("nmin"))
      .select(col("a").as("node"), least(col("a"), col("nmin")).as("lab")))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("node").as("b"), col("lab").as("blab")), Seq("b"))
        .groupBy(col("a")).agg(min(col("blab")).as("nlab"))
        .select(col("a").as("node"), col("nlab"))
      // the changed flag rides ALONG the propagation (candidate < lab),
      // so convergence is a narrow filter-count over the checkpointed
      // blocks — not the extra next⋈labels shuffle join per round this
      // loop used to pay. With pointerJump, the candidate set adds the
      // path-halving term lab(lab(u)) via one labels⋈labels self-join —
      // every label is a node id in the same component, so its own
      // label is too (left join + coalesce only for safety); the
      // default path stays exactly the two-term plan.
      val next = cut(
        if (pointerJump)
          labels.join(
              labels.select(col("node").as("lab"), col("lab").as("jlab")),
              Seq("lab"), "left")
            .select(col("node"), col("lab"),
              coalesce(col("jlab"), col("lab")).as("jl"))
            .join(nbrMin, Seq("node"), "left")
            .select(col("node"),
              least(col("lab"), col("jl"), coalesce(col("nlab"), col("lab"))).as("lab"),
              (least(col("jl"), coalesce(col("nlab"), col("lab"))) < col("lab")).as("chg"))
        else labels.join(nbrMin, Seq("node"), "left")
          .select(col("node"),
            least(col("lab"), coalesce(col("nlab"), col("lab"))).as("lab"),
            (coalesce(col("nlab"), col("lab")) < col("lab")).as("chg")))
      converged = next.filter(col("chg")).limit(1).count() == 0L
      unpersistCheckpoint(labels) // next is materialized; the old round's blocks are dead
      labels = next.drop("chg")
      i += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds " +
      "— long-chain graph exceeding the round budget; set pointerJump = true " +
      "(O(log diameter) rounds) or raise maxIter")
    unpersistCheckpoint(sym) // the result references only the final labels
    labels.select(col("node"), col("lab").as("cluster_id"))
  }

  /** SimHash near-dup cluster assignment over the 64-bit custom-
    * Expression fingerprints: 4 bands x 16 bits (pigeonhole covers
    * hamming <= 3), anchor pattern — see [[fingerprintNearDups]].
    * Returns (doc_id, rep_id, hamming).
    */
  def simhashNearDups(documents: DataFrame, maxHamming: Int = 3): DataFrame =
    fingerprintNearDups(simhashFingerprints(documents),
      bandBits = 16, bands = 4, maxHamming = maxHamming)

  /** Portable MinHash permutation constants (q88): odd
    * multipliers/offsets below 2^31 so a*h+b stays within signed 64-bit
    * for 32-bit token hashes; prime modulus > 2^32. Shared by the q88
    * portable signature, the q89/q136 LSH assignment oracle generators,
    * and the incremental signature store (q137).
    */
  private[graft] val minhashPerms: Seq[(Long, Long)] = Seq(
    (1299721L, 15485863L), (2750161L, 32452843L), (4256233L, 49979687L),
    (5800079L, 67867967L), (7368787L, 86028121L), (8960453L, 104395301L),
    (10570841L, 122949823L), (12195257L, 141650939L))
  private[graft] val minhashPrime = 4294967311L // smallest prime > 2^32

  /** The portable 8-slot MinHash signature frame (doc_id, s0..s7) over
    * any (doc_id, text) frame: md5-derived 32-bit token hashes under the
    * [[minhashPerms]] affine permutations — every slot re-derivable by
    * any md5-capable engine, which is what makes the signature STORE
    * auditable: an external engine can replay both the signing and the
    * dedup decision from the raw text. Docs with no tokens produce no
    * row (no null-slot signatures to band-collide).
    */
  def portableMinhashSignatures(docs: DataFrame): DataFrame = {
    // NARROW per-row kernel (optimization r17, guide §2.4 — remove
    // shuffles outright): the original explode(tokens) + groupBy(doc)
    // shape materialized |tokens| rows and ran a hash aggregate per doc
    // just to take 8 running minima; graft.plans.MinHashAffine computes
    // the identical slot values (same md5 hash, same affine constants,
    // same Java long arithmetic — DedupSimilaritySpec pins kernel ≡
    // explode+agg, slot for slot) in one pass over the token array with
    // NO explode and NO shuffle. The staged select keeps the kernel
    // evaluated once across the 8 slot extracts (a non-cheap alias
    // referenced 8 times survives CollapseProject un-inlined).
    //
    // ONE kernel evaluation per row (optimization r18): the r17 shape
    // gated empty-token docs with `filter(__sig.isNotNull)`, which
    // predicate-pushdown rewrote to `isnotnull(minhash_affine(...))`
    // BELOW the projection — the full md5 kernel ran twice per row
    // (BENCH_PLANS r17:554–555). The kernel is null iff the distinct
    // token array is empty, and tokens(text) = filter(split(text,' '),
    // _ != '') is empty iff text is null or all-spaces — so the no-row
    // contract is exactly the cheap text predicate below, which sits
    // under the kernel and pushes toward the scan instead of
    // duplicating it.
    docs
      .filter(col("text").isNotNull && trim(col("text")) =!= "")
      .select(col("doc_id"),
        graft.plans.MinHashAffine.minhashAffine(
          array_distinct(Texts.tokens(col("text"))), minhashPerms,
          minhashPrime).as("__sig"))
      .select(col("doc_id") +:
        minhashPerms.indices.map(i =>
          element_at(col("__sig"), i + 1).as(s"s$i")): _*)
  }

  /** The original explode + groupBy formulation — kept as the
    * executable parity reference for [[graft.plans.MinHashAffine]]
    * (DedupSimilaritySpec replays both over real corpus text and
    * asserts identical signatures). Not the production path.
    */
  private[graft] def portableMinhashSignaturesExplode(docs: DataFrame): DataFrame = {
    val slots = minhashPerms.zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("h") + lit(b)) % lit(minhashPrime)).as(s"s$i")
    }
    docs
      .select(col("doc_id"),
        explode(array_distinct(Texts.tokens(col("text")))).as("tok"))
      .withColumn("h", conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"))
      .groupBy(col("doc_id"))
      .agg(slots.head, slots.tail: _*)
  }

  /** Banded-LSH candidate (anchor, doc_id) pairs over an n-slot
    * signature frame (doc_id, s0..s{n-1}): each band's key is its slot
    * tuple, the bucket anchor is the min doc_id, and every higher-id
    * bucket member pairs with its anchor — candidates are
    * O(rows × bands), never bucket-quadratic. The ONE implementation of
    * the banding/anchor rule, shared by the batch LSH stage
    * ([[Curation.lshAssignments]]), the incremental signature-store
    * dedup ([[signatureAgreementDedup]]) and the curation stream
    * (`streaming.CurationStream`) — a band-layout or anchor-rule change
    * lands in all three or none.
    */
  def bandedAnchorCandidates(sigs: DataFrame, nSlots: Int = 8,
                             bands: Int = 2): DataFrame = {
    require(nSlots % bands == 0, s"nSlots $nSlots must divide into $bands bands")
    val rows = nSlots / bands
    def bandKey(b: Int) =
      struct((0 until rows).map(i => col(s"s${b * rows + i}").as(s"k$i")): _*)
    // ONE pass over sigs (optimization r17): the per-band select+union
    // evaluated the signature subtree `bands` times; a single explode
    // of the per-band structs reads it once. The repartition is an
    // explicit exchange boundary (the q27 minhashNearDups pattern):
    // `banded` feeds BOTH the anchor aggregate and the join back, and
    // identical subplans below an exchange are computed once
    // (ReuseExchange) — without it the narrow kernel-built signatures
    // re-derive per consumer (the old explode+agg form got this dedup
    // for free from its aggregate exchange). Both consumers are keyed
    // (band, bk), so the one shuffle also serves them as their own
    // partitioning.
    val banded = sigs
      .select(col("doc_id"), explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"), bandKey(b).as("bk"))): _*)).as("e"))
      .select(col("doc_id"), col("e.band").as("band"), col("e.bk").as("bk"))
      .repartition(col("band"), col("bk"))
    val anchors = banded.groupBy(col("band"), col("bk"))
      .agg(min(col("doc_id")).as("anchor"))
    banded.join(anchors, Seq("band", "bk"))
      .filter(col("doc_id") > col("anchor"))
      .select(col("anchor"), col("doc_id"))
      .distinct()
  }

  /** Exact token-set Jaccard verification of (anchor, doc_id) candidate
    * pairs against a (doc_id, ts) token-set frame: keeps the pairs with
    * round(jaccard, 6) >= minJaccard, carrying the `jaccard` column.
    * The 6-dp round before the compare is the portability convention —
    * the oracle re-derives the same rounded value.
    */
  def verifiedAnchorPairs(cand: DataFrame, tsets: DataFrame,
                          minJaccard: Double): DataFrame =
    cand
      .join(tsets.select(col("doc_id").as("anchor"), col("ts").as("ta")),
        Seq("anchor"))
      .join(tsets.select(col("doc_id"), col("ts").as("tb")), Seq("doc_id"))
      .withColumn("jaccard", round(Hashes.jaccardSet(col("ta"), col("tb")), 6))
      .filter(col("jaccard") >= minJaccard)

  /** INCREMENTAL near-dup dedup of a NEW shard against a persisted
    * MinHash signature STORE — the production shape for corpora that
    * grow shard by shard: the historical corpus is never re-scanned
    * (its TEXT is never even readable from the store — rows are
    * (doc_id, s0..s{n-1}) slot columns only); only the new shard's text
    * is signed, and the decision joins signatures against signatures.
    *
    * Shape: the same banded anchor pattern as [[minhashNearDups]]/q89
    * over the UNION of store and shard signatures — so the decisions
    * equal what the batch pipeline would produce had it seen the whole
    * corpus at once (store ids precede shard ids, so bucket anchors are
    * store docs wherever history collides with the shard). Verification
    * is SLOT AGREEMENT (matching slots / nSlots estimates Jaccard — the
    * published unbiased MinHash estimator), NOT exact token-set Jaccard:
    * that is precisely what frees the op from historical text. A shared
    * band guarantees rows-per-band agreeing slots, so `minAgree` must
    * exceed nSlots/bands to be a real filter.
    *
    * Store maintenance belongs to the caller: append the shard's
    * (quality-surviving) signatures back through the manifest sink
    * (`EventStreams.mergeBatchIntoTable`) so the next shard sees them —
    * dup-flagged docs' signatures included, which is what keeps
    * incremental decisions equal to the one-batch decisions (a chain
    * a~b~c where b was dropped must still catch c).
    *
    * Returns (doc_id, rep_id, n_agree) for shard docs that verified
    * against some bucket anchor (store doc or lower-id shard doc).
    */
  def signatureAgreementDedup(shardSigs: DataFrame, storeSigs: DataFrame,
                              nSlots: Int = 8, bands: Int = 2,
                              minAgree: Int = 6): DataFrame = {
    require(nSlots % bands == 0, s"nSlots $nSlots must divide into $bands bands")
    require(minAgree > nSlots / bands,
      s"minAgree $minAgree must exceed rows-per-band ${nSlots / bands} — " +
        "a shared band already guarantees that many agreeing slots")
    val slotCols = (0 until nSlots).map(i => s"s$i")
    // explicit exchange boundary (optimization r17): `all` feeds three
    // consumers (the banding, and both sides of the agreement join) —
    // below an exchange the signature derivation runs once
    // (ReuseExchange) instead of per consumer; sig rows are 9 numbers,
    // so the shuffle is tiny
    val all = storeSigs.select(col("doc_id") +: slotCols.map(col): _*)
      .unionByName(shardSigs.select(col("doc_id") +: slotCols.map(col): _*))
      .repartition(col("doc_id"))
    val cand = bandedAnchorCandidates(all, nSlots, bands)
      // decisions are for the NEW shard only; store-internal dups were
      // settled when those docs entered the store
      .join(shardSigs.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val aSigs = all.select(
      col("doc_id").as("anchor") +: slotCols.map(c => col(c).as(c + "_a")): _*)
    val bSigs = all.select(
      col("doc_id") +: slotCols.map(c => col(c).as(c + "_b")): _*)
    // agreeing slots = nSlots minus the disagreeing ones, as a chain of
    // subtractions: the filter below lands in the join condition, and a
    // sum of 3+ terms canonicalizes to a MultiCommutativeOp whose hash
    // includes a Class's identity hash, so the canonical plan ordered
    // that condition differently in every JVM
    cand.join(aSigs, Seq("anchor")).join(bSigs, Seq("doc_id"))
      .withColumn("n_agree",
        slotCols.foldLeft(lit(nSlots)) { (n, c) =>
          n - when(col(c + "_a") === col(c + "_b"), 0).otherwise(1)
        })
      .filter(col("n_agree") >= minAgree)
      .groupBy(col("doc_id"))
      .agg(min(col("anchor")).as("rep_id"), max(col("n_agree")).as("n_agree"))
  }

  /** EXACT duplicated-substring spans (the published substring-dedup
    * recipe: Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better" — their suffix-array ExactSubstr finds
    * substrings repeated anywhere in the corpus and removes the SPAN,
    * not the document): every k-token gram that occurs more than once
    * corpus-wide marks its start position as duplicated, and runs of
    * overlapping marked grams merge into maximal spans. Document-level
    * dedup (q04/q89) cannot see these — a boilerplate paragraph pasted
    * into otherwise-unique documents survives whole-doc hashing; this
    * catches exactly that, at token granularity.
    *
    * Spark-native shape instead of the paper's monolithic suffix array
    * (which needs the whole corpus in one address space): positional
    * k-gram fingerprints. Per doc: tokenize once, explode to
    * (doc_id, pos, xxhash64(gram)) — the shuffle carries an 8-byte
    * long, NEVER gram text; one hash aggregate counts corpus-wide
    * occurrences (map-side partials collapse repeats early, and the
    * hash key is uniform so the shuffle cannot skew); one join back on
    * the same hash marks duplicated positions; one per-doc window
    * merges overlapping marked grams into spans (gaps-and-islands: a
    * new span starts when the next marked pos is >= k past the
    * previous — i.e. the gram intervals [p, p+k-1] no longer overlap).
    * The window partitions on doc_id (corpus-cardinality key, no
    * tiny-key sort) and sees only MARKED positions, a small fraction
    * of tokens.
    *
    * xxhash64 keys the count (the bigramLmScore recipe: every token
    * position pays the hash, so the engine key is the cheap 8-byte one
    * — re-keying from md5-hex, a 32-char string both hashed AND
    * shuffled per position, cut the constant); the OUTPUT is positions
    * only, never a hash, so the decision stays engine-portable: the
    * DuckDB oracle re-derives duplicated grams on md5 and must land on
    * the identical span set — exact up to xxhash64 collisions
    * (~1e-19 per gram pair), which would surface as a hash-mismatch.
    *
    * Returns one row per maximal span: (doc_id, span_start, span_end,
    * span_tokens), token positions 1-based inclusive.
    *
    * Skew guard: the gaps-and-islands window partitions by doc_id, so
    * ONE pathological document that is a single giant repeated span (a
    * crawl boilerplate dump: every position marked) funnels all its
    * marked positions through one task. `segmentTokens > 0` switches to
    * a segment-salted TWO-LEVEL merge: positions first island within
    * (doc_id, pos div segmentTokens) — per-task group size bounded by
    * segmentTokens whatever the document looks like — then the
    * per-segment spans (>= segmentTokens/k fewer rows than positions
    * for the pathological doc) stitch across boundaries in a second
    * per-doc window. Stitching is exact, not approximate: with
    * segmentTokens >= k, two maximal local spans belong to one global
    * span iff consecutive-in-order spans overlap or touch
    * (next.span_start <= prev.span_end — the position-gap < k
    * condition rewritten on closed gram intervals), and span ends are
    * strictly increasing in start order, so a lag(1) island test
    * chain-merges exactly like the flat window (PropertySpec asserts
    * bit-equality on a planted mega-dup doc). Default 0 keeps the flat
    * single-window plan — right for corpora whose per-doc marked count
    * is bounded by ordinary document length.
    */
  def duplicatedSpans(documents: DataFrame, k: Int = 5,
                      segmentTokens: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(segmentTokens <= 0 || segmentTokens >= k,
      s"segmentTokens $segmentTokens must be >= k $k (a gram may not span two boundaries)")
    // per-gram hashing as ONE codegen'd pass (optimization r18,
    // graft.plans.KGramHashes): the interpreted
    // `transform(sequence, i -> xxhash64(concat_ws(' ', slice(toks,i,k))))`
    // HOF allocated a sliced array + a concatenated string per gram
    // through boxed rows; the kernel emits bit-identical xxhash64
    // values (TextsSpec parity) with a reused buffer.
    val grams = documents
      .select(col("doc_id"), Texts.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"),
        posexplode(graft.plans.KGramHashes.kgramHashes(col("toks"), k))
          .as(Seq("p", "gh")))
      .select(col("doc_id"), (col("p") + 1).cast("long").as("pos"), col("gh"))
    // ONE derivation of the gram stream (optimization r18, guide §2.4):
    // the previous aggregate(gh) + join-back shape consumed `grams`
    // twice with DIFFERENT pre-exchange projections (column pruning
    // keeps only gh under the aggregate), so the whole
    // tokenize+hash+explode subtree ran twice and the dup-key set rode
    // a broadcast (a scale hazard — on a dup-heavy corpus the
    // duplicated-gram key set is unbounded). A count window partitioned
    // by gh is the same global per-hash occurrence count (hash
    // partitioning puts every copy of a gram in one partition) computed
    // IN PLACE: one pass, one exchange, no join, no broadcast.
    val wg = Window.partitionBy(col("gh"))
    val marked = grams
      .withColumn("n_occ", count(lit(1)).over(wg))
      .filter(col("n_occ") > 1)
      .select(col("doc_id"), col("pos"))
    val spans =
      if (segmentTokens <= 0) {
        val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        marked
          .withColumn("gap", col("pos") - lag(col("pos"), 1).over(w))
          .withColumn("brk", when(col("gap").isNull || col("gap") >= k, 1L).otherwise(0L))
          .withColumn("span_id", sum(col("brk")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("doc_id"), col("span_id"))
          .agg(min(col("pos")).as("span_start"),
            (max(col("pos")) + (k - 1)).as("span_end"))
      } else {
        // level 1: islands inside each segment — the window key carries
        // the segment, so no task group exceeds segmentTokens rows
        val w1 = Window.partitionBy(col("doc_id"), col("seg")).orderBy(col("pos"))
        val local = marked
          .withColumn("seg", expr(s"pos div $segmentTokens"))
          .withColumn("gap", col("pos") - lag(col("pos"), 1).over(w1))
          .withColumn("brk", when(col("gap").isNull || col("gap") >= k, 1L).otherwise(0L))
          .withColumn("sid", sum(col("brk")).over(
            w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("doc_id"), col("seg"), col("sid"))
          .agg(min(col("pos")).as("s"), (max(col("pos")) + (k - 1)).as("e"))
        // level 2: stitch per doc over SPANS (k-fold fewer rows than
        // positions on the pathological doc); merge iff touch/overlap
        val w2 = Window.partitionBy(col("doc_id")).orderBy(col("s"))
        local
          .withColumn("brk2",
            when(col("s") > coalesce(lag(col("e"), 1).over(w2), lit(Long.MinValue)), 1L)
              .otherwise(0L))
          .withColumn("span_id", sum(col("brk2")).over(
            w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("doc_id"), col("span_id"))
          .agg(min(col("s")).as("span_start"), max(col("e")).as("span_end"))
      }
    spans.select(col("doc_id"), col("span_start"), col("span_end"),
      (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** REMOVE the duplicated spans and reassemble each document — the
    * second half of the ExactSubstr recipe (Lee et al. 2022 drop every
    * occurrence of a repeated substring; a fully-duplicated document
    * therefore keeps zero tokens and survives as an empty string).
    *
    * Scale shape: [[duplicatedSpans]] does the corpus-wide work; the
    * removal itself never shuffles tokens — each doc's (few) spans are
    * collected to one array row, joined back ON doc_id, and the token
    * drop is a narrow per-row `filter` over the token array with a
    * positional lambda (i is 0-based; spans are 1-based inclusive).
    * The alternative — exploding to (doc_id, pos, token) and
    * anti-joining positions — would shuffle every token in the corpus;
    * the span list is strictly smaller. (The DuckDB oracle uses
    * exactly that positional anti-join: same result, engine keeps the
    * narrow plan.)
    *
    * Returns (doc_id, n_tokens, n_removed, clean_text) for every doc
    * with at least one token.
    */
  def scrubDuplicatedSpans(documents: DataFrame, k: Int = 5,
                           segmentTokens: Int = 0): DataFrame = {
    val spanArr = duplicatedSpans(documents, k, segmentTokens)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    documents.select(col("doc_id"), Texts.tokens(col("text")).as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .filter(col("n_tokens") > 0)
      .join(spanArr, Seq("doc_id"), "left")
      .withColumn("kept", filter(col("toks"), (_, i) =>
        // docs with no spans have a null span array: exists -> null,
        // coalesce keeps the token
        !coalesce(
          exists(col("spans"), s =>
            (i + 1 >= s.getField("span_start")) &&
              (i + 1 <= s.getField("span_end"))),
          lit(false))))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).as("n_removed"),
        array_join(col("kept"), " ").as("clean_text"))
  }
}
