package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`) — the
  * training-data-pipeline layer. No reference counterpart; designed
  * Spark-first for the 100 TB case.
  *
  * Numeric determinism: every dot/norm is computed in DOUBLE, element-wise
  * in array order (`zip_with` + `aggregate` fold — sequential, same order
  * as the DuckDB oracle's DOUBLE[] computation), so results hash-match
  * after rounding. float32 arithmetic would differ ~1e-7 between engines
  * and flap rounded comparisons.
  *
  * Scale design:
  *   - brute-force kNN is O(|Q|·|C|): fine when the query side is small
  *     (broadcast) — that IS the production shape for "find neighbors of
  *     this batch"; the candidate scan stays partition-parallel and never
  *     shuffles the corpus;
  *   - for corpus×corpus the LSH path ([[hyperplaneBuckets]]) buckets by
  *     sign-pattern so only same-bucket pairs join — the shuffle is on the
  *     bucket key and skew is bounded by 2^planes buckets; an IVF variant
  *     would swap the hash for learned centroids (same join shape).
  */
object Similarity {

  /** Element-order dot product in double — the native codegen expression
    * ([[graft.functions.DotProduct]]); bit-equal to the lambda fold
    * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` it replaces. */
  def dot(a: Column, b: Column): Column = graft.functions.dot_product(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine from a precomputed-norm pair — one fold per pair instead of
    * three (dot + both norms); the norms are attached per VECTOR before
    * the pair join, which is the difference between O(pairs) and
    * O(3·pairs) interpreted-lambda folds in the hot path. Same arithmetic
    * as [[cosine]], so oracle-identical. */
  private def pairCos(va: Column, vb: Column, na: Column, nb: Column): Column =
    dot(va, vb) / (na * nb)

  /** Brute-force top-k cosine neighbors for a small query set (vec_id in
    * [0, nQueries)). Query side broadcast; rank window partitioned by
    * query id so it parallelizes. Self-matches excluded. */
  def knnBrute(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        norm(col("embedding")).as("qn"))
    val c = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
      norm(col("embedding")).as("cn"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(pairCos(col("qv"), col("cv"), col("qn"), col("cn")), 6).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  /** [[knnBrute]] re-expressed through the native single-pass top-k
    * aggregate ([[graft.functions.TopKByScore]]) instead of a rank
    * window: the scoring join's output reduces to k rows per query ON
    * THE MAP SIDE (partial heaps combine before the exchange), where the
    * window form shuffles and sorts every scored pair. Row-identical to
    * [[knnBrute]] by construction — same rounding, same (score desc, id
    * asc) tie-break — so it shares s01's DuckDB oracle as s07. */
  def knnBruteAgg(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        norm(col("embedding")).as("qn"))
    val c = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
      norm(col("embedding")).as("cn"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(pairCos(col("qv"), col("cv"), col("qn"), col("cn")), 6).as("cos"))
    scored.groupBy("query_id")
      .agg(graft.functions.topk_by_score(col("cos"), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("query_id"), col("p.id").as("neighbor_id"),
        col("p.score").as("cos"), (col("pos") + 1).as("rank"))
      .orderBy("query_id", "rank")
  }

  /** Deterministic pseudo-random hyperplane p[j] ∈ {−1, +1}^dim, component
    * i derived from md5("plane:i") parity so any engine reproduces it
    * BIT-EXACTLY without shipping weights. (A previous formulation used
    * `sin` of an index mix — transcendental functions differ by an ulp
    * between libm implementations, which could flip a bucket sign when a
    * dot product lands near zero; md5 has no such cross-engine hazard,
    * and Rademacher ±1 hyperplanes are a standard SimHash choice.)
    *
    * The component is DATA-INDEPENDENT — a constant per (plane, i) — so it
    * is computed ONCE here on the driver (same md5, via MessageDigest) and
    * shipped to executors as an array literal. Round 5 evaluated the md5
    * inside the per-row bucket lambda: 512 interpreted md5 calls per row
    * for values that never change. The oracle SQL keeps its inline
    * `ascii(substr(md5(plane||':'||i),1,1))%2` form — values are identical
    * by construction, so the hashes still match. */
  private[operators] def planeVector(plane: Int, dim: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dim) { i =>
      // first hex char of the digest == high nibble of byte 0
      val hexChar = "0123456789abcdef".charAt((md.digest(s"$plane:$i".getBytes("UTF-8"))(0) >> 4) & 0xf)
      if (hexChar.toInt % 2 == 1) 1.0 else -1.0
    }
  }

  /** Sign-pattern LSH bucket id from `planes` hyperplanes: bit j = sign of
    * dot(v, p_j), plane j drawn from the md5 stream at global index
    * `planeOffset + j` — so `planeOffset = t·planes` yields hash table
    * t's independent plane set for the banded forms. Buckets corpus
    * vectors for corpus×corpus candidate generation without the O(n²)
    * join. `dv` may be float or double — DotProduct widens each side
    * element-wise against the double plane literal, bit-equal to
    * pre-casting (float→double is exact), so callers pass the raw
    * embedding with no interpreted transform(cast) projection. */
  def bucketId(dv: Column, planes: Int, dim: Int, planeOffset: Int = 0): Column =
    (0 until planes).map { j =>
      when(dot(dv, lit(planeVector(planeOffset + j, dim))) >= 0, lit(1L << j))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** ANN via hyperplane-LSH buckets — the default front door, which IS
    * the Hamming-1 multiprobe form ([[knnLshMultiprobe]]): single-probe
    * recall@10 measured 0.12 at sf0.1 (the i.i.d.-gaussian floor,
    * SCALE.md recall table) is not a usable default, and multiprobe
    * costs only planes extra PROBES on the broadcast query side — the
    * candidate scan is unchanged. The single-probe floor stays
    * reachable as [[knnLshSingleProbe]] for the recall table. */
  def knnLsh(emb: DataFrame, nQueries: Int, k: Int, planes: Int = 8): DataFrame =
    knnLshMultiprobe(emb, nQueries, k, planes)

  /** The single-probe floor: same-bucket pairs only, scored exactly,
    * then top-k per query among candidates. Recall < 1 by construction
    * (asserted vs brute in ScalaTest); the output itself is
    * deterministic and oracle-checked — the md5-parity planes and
    * fold-order dot products reproduce bit-identically in DuckDB. */
  def knnLshSingleProbe(emb: DataFrame, nQueries: Int, k: Int, planes: Int = 8): DataFrame = {
    val withB = emb.select(col("vec_id"), col("embedding"),
      bucketId(col("embedding"), planes, embeddingDim(emb)).as("bucket"))
    val q = withB.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        norm(col("embedding")).as("qn"), col("bucket"))
    val c = withB.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
      norm(col("embedding")).as("cn"), col("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(pairCos(col("qv"), col("cv"), col("qn"), col("cn")), 6).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  /** Multi-probe LSH: each query probes its own bucket PLUS every bucket
    * within Hamming distance `radius` (hyperplanes flipped) — the
    * standard recall lever for sign-pattern LSH. A near neighbor lands
    * in a different bucket only when some hyperplanes separate the
    * pair; flipping those bits finds it. Cost: 1 + planes probes per
    * query at radius 1, + C(planes,2) at radius 2 (queries are the
    * broadcast side, so the candidate scan is unchanged); no pair can
    * appear twice because a candidate lives in exactly one bucket.
    * Radius is the recall/probe-count dial — measured per radius in
    * SCALE.md's recall table ("Dedup / similarity at corpus scale"). */
  def knnLshMultiprobe(emb: DataFrame, nQueries: Int, k: Int,
                       planes: Int = 8, radius: Int = 1): DataFrame = {
    require(radius == 1 || radius == 2, s"radius 1 or 2, got $radius")
    val withB = emb.select(col("vec_id"), col("embedding"),
      bucketId(col("embedding"), planes, embeddingDim(emb)).as("bucket"))
    val flips1 = (0 until planes).map(j => col("bucket").bitwiseXOR(lit(1L << j)))
    val flips2 =
      if (radius < 2) Nil
      else for { a <- 0 until planes; b <- a + 1 until planes }
        yield col("bucket").bitwiseXOR(lit((1L << a) | (1L << b)))
    val probes = array(col("bucket") +: (flips1 ++ flips2): _*)
    val q = withB.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        norm(col("embedding")).as("qn"), explode(probes).as("bucket"))
    val c = withB.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
      norm(col("embedding")).as("cn"), col("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(pairCos(col("qv"), col("cv"), col("qn"), col("cn")), 6).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  /** K-means training for IVF cells — Lloyd iterations as pure DataFrame
    * ops: assign each vector to its nearest centroid (in-row argmin over
    * the driver-held centroids — [[argminCell]], no join/window/exchange
    * in the assignment), recompute centroids as element-wise means
    * (posexplode → groupBy(cell, dim) avg → re-assemble). Each iteration
    * shuffles only the mean-update's dimension-exploded sliver; centroids
    * start from the deterministic first-k vectors so training is
    * reproducible. Returns (cell, centv) centroid frame. */
  def kmeansCentroids(emb: DataFrame, k: Int, iterations: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // Trained-artifact memo (SnapshotKey discipline — see that object's
    // doc): "training runs once at write time" is this operator family's
    // own scale contract, and the artifact is k×dim driver doubles. A
    // changed/appended corpus keys differently; in-memory frames carry
    // no stable identity and train fresh every call.
    val memoKey = SnapshotKey.of(emb).map((_, k, iterations))
    val memoHit: Option[Array[(Int, Seq[Double])]] = memoKey.flatMap { mk =>
      centsMemo.synchronized {
        centsMemo.get(mk).map { rows =>
          centsMemo.remove(mk); centsMemo(mk) = rows // LRU touch
          rows
        }
      }
    }
    memoHit match {
      case Some(rows) => return rows.toSeq.toDF("cell", "centv")
      case None => ()
    }
    val vecs = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    // Centroids live on the DRIVER between iterations (k × dim doubles —
    // trivially small; MLlib's KMeans does the same). Folding them back
    // into the plan as a LocalRelation keeps every iteration's lineage
    // FLAT: without this, iteration i's plan embeds iteration i-1's
    // whole plan, and the two downstream consumers (assign + probe) each
    // re-execute the full training — measured ~4× blowup at sf0.1.
    def toLocal(rows: Array[(Int, Seq[Double])]): DataFrame =
      rows.toSeq.toDF("cell", "centv")
    var centRows: Array[(Int, Seq[Double])] = vecs.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cell"), col("v").as("centv"))
      .as[(Int, Seq[Double])].collect().sortBy(_._1)
    for (_ <- 0 until iterations if centRows.nonEmpty) {
      // EUCLIDEAN assignment (argmin ||v - c||²): cosine assignment on
      // un-centered embeddings collapses — the centroid aligned with the
      // global mean direction wins every vector; L2 Voronoi cells are the
      // standard IVF partition (and what the mean-update optimizes).
      // IN-ROW argmin over the driver-held centroids ([[argminCell]] —
      // the same rewrite the r14 round applied to assignCells/pqEncode):
      // the old crossJoin(broadcast(cents)) + row_number window fanned
      // the corpus k× WITH the embedding payload and shuffled that k×
      // relation into a per-vector window sort EVERY iteration — two
      // exchanges of k× the corpus bytes per Lloyd step. Same dist2 op
      // order (selfDot mirrors DotProduct's fold), same (dist2 asc,
      // cell asc) tie-break, so assignments — and therefore the trained
      // centroids — are bit-identical.
      val assigned = lloydAssignIvf(vecs, centRows.toSeq)
      val recomputed = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cell", "dim").agg(avg(col("x")).as("mx"))
        .groupBy("cell").agg(
          array_sort(collect_list(struct(col("dim"), col("mx")))).as("pairs"))
        .select(col("cell"),
          transform(col("pairs"), p => p.getField("mx")).as("centv"))
      // a cell that captured zero vectors this round has no mean — keep
      // its previous centroid (standard empty-cluster handling) so the
      // frame always carries exactly k cells and knnIvfTrained never
      // silently probes a shrunken cell set
      val next = recomputed.as[(Int, Seq[Double])].collect().toMap
      centRows = centRows.map { case (cell, prev) =>
        (cell, next.getOrElse(cell, prev))
      }
    }
    memoKey.foreach { mk =>
      centsMemo.synchronized {
        centsMemo(mk) = centRows
        while (centsMemo.size > TrainMemoMax) centsMemo.remove(centsMemo.head._1)
      }
    }
    toLocal(centRows)
  }

  private val TrainMemoMax = 4
  private val centsMemo =
    new scala.collection.mutable.LinkedHashMap[(String, Int, Int), Array[(Int, Seq[Double])]]
  private val booksMemo =
    new scala.collection.mutable.LinkedHashMap[(String, Int, Int, Int), Array[(Int, Int, Seq[Double])]]
  // the ENCODED index (vec_id, subspace, code) — m small ints per vector,
  // the artifact "that lets a 100 TB corpus' index live in executor
  // memory" (see knnPq doc); persisted, so release via releaseCaches
  private val codesMemo =
    new scala.collection.mutable.LinkedHashMap[(String, Int, Int, Int), DataFrame]

  /** Release the persisted PQ index relations (the trained centroid /
    * codebook arrays are driver-local and just drop with the map). */
  def releaseCaches(): Unit = {
    centsMemo.synchronized(centsMemo.clear())
    booksMemo.synchronized(booksMemo.clear())
    codesMemo.synchronized {
      codesMemo.valuesIterator.foreach(_.unpersist(blocking = false))
      codesMemo.clear()
    }
  }

  /** Centroid tables localized to the driver — they are k×dim doubles by
    * construction (trained on the driver, or read back from the stored
    * index's k-row parquet), the same O(k·dim) the broadcast form
    * shipped. Sorted by cell so argmin scans resolve ties to the
    * smallest cell, exactly like the old window's (key asc, cell asc). */
  private[operators] def centroidRows(cents: DataFrame): Seq[(Int, Seq[Double])] = {
    val spark = cents.sparkSession
    import spark.implicits._
    cents.select(col("cell").cast("int"), col("centv"))
      .as[(Int, Seq[Double])].collect().sortBy(_._1).toSeq
  }

  /** Sequential Σx² — the same left-fold order [[graft.functions
    * .DotProduct]] uses, so `lit(selfDot(c))` is bit-identical to the
    * `dot(centv, centv)` column the join form computed. */
  private[operators] def selfDot(v: Seq[Double]): Double = {
    var s = 0.0; val it = v.iterator
    while (it.hasNext) { val x = it.next(); s += x * x }
    s
  }

  /** One Lloyd iteration's IVF assignment — (v, cell) with the in-row
    * [[argminCell]] over driver-held centroids (cells ascending). Used
    * by the [[kmeansCentroids]] loop (see the comment there for the
    * bit-exactness contract); its plan is pinned in PlanSpec.
    *
    * The Σc² constants are INLINE double literals, deliberately: an
    * `element_at(refArray, nonfoldable-1 + i)` variant (tried first on a
    * "changed literals force per-iteration Janino recompiles" theory)
    * measured SLOWER in both planning and execution, and a perturbed-
    * literal probe (OPTIMIZATION_r15.md, "VERDICT item 1") showed
    * re-planning with fresh values costs only a small, decaying warmup —
    * not a full recompile. */
  private[graft] def lloydAssignIvf(vecs: DataFrame,
                                        centRows: Seq[(Int, Seq[Double])]): DataFrame = {
    val dists = centRows.map { case (_, cv) =>
      dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), lit(cv.toArray)) +
        lit(selfDot(cv))
    }
    vecs.select(col("v"), argminCell(dists, centRows.map(_._1)).as("cell"))
  }


  /** IN-ROW argmin over per-centroid key expressions (`keys(i)` = the
    * i-th centroid's comparison key, cells ascending):
    * `array_min(array(struct(key, cell))).cell` — struct ordering is
    * (key asc, cell asc), i.e. min key wins and ties resolve to the
    * smallest cell; null keys (null embedding) sort first exactly like
    * the window's NULLS FIRST — all EXACTLY the
    * row_number-over-(key asc, cell asc) verdicts of the join+window
    * form this replaces, and each key expression appears ONCE in one
    * projection (a first-match `when(key === least(...))` scan was
    * tried first and cost real driver time: 16 keys × a duplicated
    * 16-arg least = thousands of expression nodes per plan). The point
    * is the plan shape: cell assignment becomes pure projection
    * arithmetic riding the scan, where the old form fanned the corpus
    * k× through a crossJoin and shuffled that k×-payload relation into
    * a per-vector window sort (two exchanges of k× the embedding bytes
    * — the one corpus-scale shuffle IVF assignment is supposed to
    * avoid). */
  private[operators] def argminCell(keys: Seq[Column], cells: Seq[Int]): Column =
    // the coalesce is a semantic no-op (the struct array is non-empty by
    // construction, so array_min never returns null) but it matters for
    // the PLAN: it makes the cell column provably non-nullable, so when
    // a downstream join keys on it, InferFiltersFromConstraints does NOT
    // add isnotnull(cell) — which would inline this whole expression
    // (k× dot products + array_min) into a scan-level data filter and
    // re-evaluate it per row, interpreted (measured: 0.66 s of a 0.72 s
    // single-task stage before the coalesce)
    coalesce(
      array_min(array(keys.zip(cells).map { case (k, c) =>
        struct(k.as("k"), lit(c).as("cell")) }: _*)).getField("cell"),
      lit(cells.head))

  /** IVF with TRAINED cells: k-means centroids replace the stub
    * first-k-vectors of [[knnIvf]]; assignment/probing join shapes are
    * identical. At 100 TB the training runs once at write time over a
    * sample; queries only ever touch the probed cells. */
  def knnIvfTrained(emb: DataFrame, nQueries: Int, k: Int,
                    nCells: Int = 16, nProbe: Int = 4, iterations: Int = 2): DataFrame = {
    val cents = kmeansCentroids(emb, nCells, iterations).select(col("cell"), col("centv"))
    searchIvf(assignCells(emb, cents), cents,
      emb.filter(col("vec_id") < nQueries), k, nProbe)
  }

  /** Squared Euclidean distance to the broadcast `centv` — dot_product
    * widens float×double element-wise, so raw float embeddings serve the
    * centroid distances directly. */
  private def dist2(v: org.apache.spark.sql.Column) =
    dot(v, v) - lit(2.0) * dot(v, col("centv")) + dot(col("centv"), col("centv"))

  /** Nearest-centroid cell per vector WITH the search payload
    * (embedding + norm) carried through: broadcast × argmin — map-heavy,
    * no corpus shuffle. This is BOTH the write-time assignment job of
    * [[graft.streaming.StreamingAnnIndex.seedIvf]] and the per-batch body
    * of [[graft.streaming.StreamingAnnIndex.ingestIvfBatch]]: new vectors
    * join an existing index by running exactly this against the STORED
    * centroids, no retraining. A label-only caller selects
    * (vec_id, cell); column pruning drops the payload. */
  def assignCells(emb: DataFrame, cents: DataFrame): DataFrame = {
    val cs = centroidRows(cents)
    if (cs.isEmpty)
      return emb.select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("vn"), lit(0).as("cell")).where(lit(false))
    // in-row argmin (see [[argminCell]]): the write-time assignment job
    // is map-only — the old crossJoin(centroids) + row_number window
    // fanned every vector k× WITH its embedding payload and shuffled
    // that relation twice (window exchange + sort) for a verdict that
    // is a per-row function of the vector and k driver-known constants
    val v = col("embedding")
    val dists = cs.map { case (_, cv) =>
      dot(v, v) - lit(2.0) * dot(v, lit(cv.toArray)) + lit(selfDot(cv))
    }
    emb.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("vn"),
      argminCell(dists, cs.map(_._1)).as("cell"))
  }

  /** IVF search over an ALREADY-ASSIGNED corpus: probe the `nProbe`
    * nearest cells per query, exact-score inside probed cells only.
    * Shared by the in-process path ([[knnIvfTrained]]) and the stored
    * index ([[graft.streaming.StreamingAnnIndex.knnIvf]]) — equality
    * across the two is therefore structural, pinned in StreamingSpec. */
  def searchIvf(assigned: DataFrame, cents: DataFrame, queries: DataFrame,
                k: Int, nProbe: Int = 4): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"), col("embedding").as("qdv"),
      norm(col("embedding")).as("qn"))
    val wProbe = Window.partitionBy("query_id").orderBy(asc("dist2"), asc("cell"))
    val probes = q.join(broadcast(cents), expr("true"))
      .select(col("query_id"), col("qv"), col("qn"), col("cell"),
        dist2(col("qdv")).as("dist2"))
      .withColumn("rn", row_number().over(wProbe)).filter(col("rn") <= nProbe)
      .select("query_id", "qv", "qn", "cell")
    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(pairCos(col("qv"), col("embedding"), col("qn"), col("vn")), 6).as("cos"))
    val wRank = Window.partitionBy("query_id").orderBy(desc("cos"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(wRank)).filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  def readIvfCentroids(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/centroids").select("cell", "centv")

  /** IVF-style ANN, the learned-partition scale path: vectors are
    * assigned to their nearest "centroid" cell once (a write-time batch
    * job at scale), and a query probes only its `nProbe` nearest cells —
    * the candidate join is on the cell id, touching |probed cells| /
    * |cells| of the corpus instead of all of it.
    *
    * Centroid TRAINING is stubbed (first `nCells` vectors serve as
    * centroids — k-means would slot in here); the assignment and probe
    * plumbing — broadcast centroid table, argmax-cell window, cell-keyed
    * candidate join — is the real production shape. */
  def knnIvf(emb: DataFrame, nQueries: Int, k: Int,
             nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // stub centroids localize like the trained ones (nCells rows) —
    // float embeddings widen element-wise, exactly what dot_product did
    val cs: Seq[(Int, Seq[Double])] = emb.filter(col("vec_id") < nCells)
      .select(col("vec_id").cast("int").as("cell"),
        transform(col("embedding"), x => x.cast("double")).as("centv"))
      .as[(Int, Seq[Double])].collect().sortBy(_._1).toSeq
    val cents = cs.toDF("cell", "centv")
      .select(col("cell"), col("centv"),
        sqrt(dot(col("centv"), col("centv"))).as("centn"))
    val vecs = emb.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("vn"))
    // cell assignment: nearest centroid per vector — in-row argMAX over
    // the localized stub centroids via [[argminCell]] on the NEGATED
    // similarity (IEEE negation reverses the double total order
    // exactly, zeros included, so min(−sim) tie-broken by asc cell ==
    // the old window's (sim desc, cell asc)), replacing the broadcast
    // crossJoin + row_number window that fanned the corpus nCells× and
    // shuffled it. NaN caveat (r14 advisor): Spark orders NaN GREATEST,
    // so if only SOME cells' sims are NaN (a zero-norm centroid making
    // 0/0 for that cell alone), the old desc window ranked the NaN cell
    // first while min(−sim) never picks it — the equivalence is exact
    // only when sims are all-NaN or all-real per vector. Degenerate
    // input only (this corpus has no zero-norm vectors among the
    // first-nCells stubs; oracle-pinned), and preferring a real
    // similarity over 0/0 is the saner verdict for new data.
    val assigned =
      if (cs.isEmpty)
        vecs.select(col("vec_id"), col("embedding"), col("vn"),
          lit(0).as("cell")).where(lit(false))
      else {
        val negSims = cs.map { case (_, cv) =>
          -(dot(col("embedding"), lit(cv.toArray))
            / (col("vn") * lit(math.sqrt(selfDot(cv)))))
        }
        vecs.select(col("vec_id"), col("embedding"), col("vn"),
          argminCell(negSims, cs.map(_._1)).as("cell"))
      }
    // probe list: nProbe nearest cells per query
    val q = vecs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("vn").as("qn"))
    val wProbe = Window.partitionBy("query_id").orderBy(desc("sim"), asc("cell"))
    val probes = q.join(broadcast(cents), expr("true"))
      .select(col("query_id"), col("qv"), col("qn"), col("cell"),
        (dot(col("qv"), col("centv")) / (col("qn") * col("centn"))).as("sim"))
      .withColumn("rn", row_number().over(wProbe)).filter(col("rn") <= nProbe)
      .select("query_id", "qv", "qn", "cell")
    // exact scoring within probed cells only
    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(pairCos(col("qv"), col("embedding"), col("qn"), col("vn")), 6).as("cos"))
    val wRank = Window.partitionBy("query_id").orderBy(desc("cos"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(wRank)).filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  /** Product-quantization codebooks: the embedding dimension is cut into
    * `m` contiguous subspaces and a `codes`-entry k-means codebook is
    * trained per subspace over the corpus' subvectors. All m codebooks
    * train JOINTLY — subspace is just another grouping column — so each
    * Lloyd iteration is ONE assign job + ONE mean job over the
    * dimension-sliced relation, not m of each: driver barriers don't
    * scale with m, and the corpus is read once per iteration. Same
    * math as per-slice training (subspaces are independent in both).
    * Returns (subspace, cell, centv) with |rows| = m·codes — always
    * broadcastable. Training is a write-time batch job at scale,
    * typically over a sample. */
  def pqCodebooks(emb: DataFrame, m: Int, codes: Int, iterations: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // same trained-artifact memo as kmeansCentroids — m·codes×sub doubles
    val memoKey = SnapshotKey.of(emb).map((_, m, codes, iterations))
    val memoHit: Option[Array[(Int, Int, Seq[Double])]] = memoKey.flatMap { mk =>
      booksMemo.synchronized {
        booksMemo.get(mk).map { rows =>
          booksMemo.remove(mk); booksMemo(mk) = rows // LRU touch
          rows
        }
      }
    }
    memoHit match {
      case Some(rows) => return rows.toSeq.toDF("subspace", "cell", "centv")
      case None => ()
    }
    val sub = embeddingDim(emb) / m
    val subs = array((0 until m).map(i => struct(lit(i).as("subspace"),
      slice(col("embedding"), i * sub + 1, sub).as("sv"))): _*)
    val vecs = emb.select(col("vec_id"), explode(subs).as("s"))
      .select(col("vec_id"), col("s.subspace").as("subspace"),
        transform(col("s.sv"), x => x.cast("double")).as("v"))
    def toLocal(rows: Array[(Int, Int, Seq[Double])]): DataFrame =
      rows.toSeq.toDF("subspace", "cell", "centv")
    // deterministic init: the first `codes` vectors' subvectors seed
    // every subspace's codebook (mirrors kmeansCentroids' first-k rule)
    var centRows: Array[(Int, Int, Seq[Double])] = vecs.filter(col("vec_id") < codes)
      .select(col("subspace"), col("vec_id").cast("int").as("cell"), col("v"))
      .as[(Int, Int, Seq[Double])].collect().sortBy(t => (t._1, t._2))
    for (_ <- 0 until iterations if centRows.nonEmpty) {
      // IN-ROW per-subspace argmin (the pqEncode shape — [[argminCell]]):
      // the old join(broadcast(cents), "subspace") + row_number window
      // fanned every exploded subvector codes× WITH its payload and
      // shuffled that m·codes× relation into a (vec_id, subspace) window
      // sort EVERY iteration. All m assignments now ride one projection
      // over the un-exploded corpus; same dist2 op order, same
      // (dist2 asc, cell asc) tie-break — codebooks are bit-identical.
      // r15 measured-and-NOT-adopted: the in-row per-subspace argmin
      // (the pqEncode/lloydAssignIvf treatment — OPTIMIZATION_r15.md,
      // "VERDICT item 1", records the A/B) removes this join+window, but the
      // full-training same-JVM A/B read it ~0.7-0.8 s SLOWER per
      // training (new 1.87-2.61 s vs old 1.16-1.39 s, 4 reps, both
      // orderings) at sf0.1: each iteration re-plans a 4×16-literal
      // projection whose fresh-literal re-plan/JIT warm costs
      // ~0.4 s/iteration (same record), which dwarfs the exec win
      // on a 2000-row training set — and unlike the IVF loop's
      // crossJoin, this join fans out on the SUBSPACE key (16×
      // per-subspace rows, 16-dim payloads), cheap enough that the
      // in-row form has little to beat. Training is memoized cold-path;
      // at corpus scale the fixed cost vanishes but is unmeasurable
      // here, and an unmeasurable win is not a win (r14 rule).
      val assigned = {
        val cents = toLocal(centRows)
        val w = Window.partitionBy("vec_id", "subspace").orderBy(asc("dist2"), asc("cell"))
        vecs.join(broadcast(cents), Seq("subspace"))
          .select(col("vec_id"), col("subspace"), col("v"), col("cell"),
            (dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), col("centv"))
              + dot(col("centv"), col("centv"))).as("dist2"))
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("subspace"), col("cell"), col("v"))
      }
      val recomputed = assigned
        .select(col("subspace"), col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("subspace", "cell", "dim").agg(avg(col("x")).as("mx"))
        .groupBy("subspace", "cell").agg(
          array_sort(collect_list(struct(col("dim"), col("mx")))).as("pairs"))
        .select(col("subspace"), col("cell"),
          transform(col("pairs"), p => p.getField("mx")).as("centv"))
      // empty cells keep their previous centroid (standard handling),
      // so every subspace always carries exactly `codes` cells
      val next = recomputed.as[(Int, Int, Seq[Double])].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
      centRows = centRows.map { case (s, c, prev) =>
        (s, c, next.getOrElse((s, c), prev))
      }
    }
    memoKey.foreach { mk =>
      booksMemo.synchronized {
        booksMemo(mk) = centRows
        while (booksMemo.size > TrainMemoMax) booksMemo.remove(booksMemo.head._1)
      }
    }
    toLocal(centRows)
  }

  /** Embedding width probed from one row — a limit-1 action (the array
    * type doesn't carry its length in the schema). Empty corpus → a
    * placeholder width so downstream plans still build and return empty
    * results instead of throwing (Verify runs queries blind). */
  private[graft] def embeddingDim(emb: DataFrame): Int =
    emb.select(size(col("embedding"))).head(1)
      .headOption.map(_.getInt(0)).getOrElse(64)

  /** PQ encoding: each vector becomes `m` small integers — the id of its
    * nearest codebook entry per subspace. 64 float dims compress to m
    * bytes (64× here), which is what lets a 100 TB corpus' index live in
    * executor memory. One dimension-sliced explode (no shuffle), a
    * broadcast of the m·codes codebook, and an argmin window partitioned
    * by (vec_id, subspace). */
  def pqEncode(emb: DataFrame, books: DataFrame, m: Int): DataFrame = {
    val sub = embeddingDim(emb) / m
    val spark = books.sparkSession
    import spark.implicits._
    // the codebook is m·codes rows by construction — localize it and
    // encode IN-ROW ([[argminCell]] per subspace): one projection per
    // vector computing all m argmins, where the old form exploded every
    // vector m× (subvector payloads attached), broadcast-joined the
    // books for a codes× fan-out, and shuffled that m·codes×-fanned
    // relation into a (vec_id, subspace) window sort. Encoding now
    // rides the scan; same dist2 op order, same (dist2, cell) asc
    // tie-break, so codes are bit-identical.
    val bk: Seq[(Int, Int, Seq[Double])] = books
      .select(col("subspace").cast("int"), col("cell").cast("int"), col("centv"))
      .as[(Int, Int, Seq[Double])].collect().sortBy(t => (t._1, t._2)).toSeq
    if (bk.isEmpty)
      return emb.select(col("vec_id"), lit(0).as("subspace"),
        lit(0).as("code")).where(lit(false))
    val bySub: Seq[(Int, Seq[(Int, Seq[Double])])] =
      bk.groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3))).toSeq.sortBy(_._1)
    val dvCols = bySub.map { case (i, _) =>
      slice(col("embedding"), i * sub + 1, sub).as(s"_dv$i")
    }
    val codeStructs = bySub.map { case (i, entries) =>
      val dv = col(s"_dv$i")
      val dists = entries.map { case (_, cv) =>
        dot(dv, dv) - lit(2.0) * dot(dv, lit(cv.toArray)) + lit(selfDot(cv))
      }
      struct(lit(i).as("subspace"),
        argminCell(dists, entries.map(_._1)).as("code"))
    }
    emb.select(col("vec_id") +: dvCols: _*)
      .select(col("vec_id"), explode(array(codeStructs: _*)).as("sc"))
      .select(col("vec_id"), col("sc.subspace").as("subspace"),
        col("sc.code").as("code"))
  }

  /** PQ-ADC kNN with exact re-ranking — the compressed-index scale path.
    * Asymmetric distance computation: each query precomputes a lookup
    * table ||q_s − c||² per (subspace, code) — nQueries·m·codes rows,
    * broadcast — and a vector's approximate distance is the SUM of its m
    * codes' table entries. The corpus side therefore never ships
    * embeddings: the (vec_id, subspace, code) relation joins the
    * broadcast table, the per-vector sum partial-aggregates map-side
    * (m rows → 1), and the per-query shortlist reduces through the
    * single-pass top-k heap aggregate ([[graft.functions.TopKByScore]])
    * — k·partitions rows cross the final shuffle, not |corpus|.
    * The shortlist is then re-scored EXACTLY (cosine over the real
    * vectors, a |shortlist|-sized broadcast semi-join) so the output
    * ranking is true cosine order — approximation affects recall only,
    * never the reported scores. Oracle-checked end-to-end since round 5:
    * the codebook training unrolls into SQL (fixed iteration count) and
    * every distance is a fold-order-exact double mirror; recall vs brute
    * and code-range invariants are additionally pinned in StorageSpec. */
  def knnPq(emb: DataFrame, nQueries: Int, k: Int, m: Int = 4,
            codes: Int = 16, iterations: Int = 2, shortlist: Int = 50): DataFrame = {
    // no persist needed: pqCodebooks returns a driver-local relation
    // (m·codes rows), so both consumers below read a LocalRelation
    val books = pqCodebooks(emb, m, codes, iterations)
    // the encoded index is memoized per corpus snapshot (like the
    // codebooks) — encoding is the write-time indexing job at scale
    val codesDf = SnapshotKey.of(emb).map((_, m, codes, iterations)) match {
      case None => pqEncode(emb, books, m)
      case Some(mk) => codesMemo.synchronized {
        codesMemo.get(mk) match {
          case Some(c) if c.storageLevel !=
              org.apache.spark.storage.StorageLevel.NONE =>
            codesMemo.remove(mk); codesMemo(mk) = c // LRU touch
            c
          case _ =>
            val c = pqEncode(emb, books, m)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            codesMemo(mk) = c
            while (codesMemo.size > TrainMemoMax) {
              val (k0, old) = codesMemo.head
              codesMemo.remove(k0); old.unpersist(blocking = false)
            }
            c
        }
      }
    }
    searchPq(codesDf, books, emb.filter(col("vec_id") < nQueries), emb,
      k, m, shortlist)
  }

  /** PQ-ADC search over an ALREADY-ENCODED corpus: broadcast per-query
    * distance tables, map-side partial sums over the codes relation,
    * heap-aggregate shortlist, exact cosine re-rank fetching only the
    * shortlist's embeddings from `corpus`. Shared by the in-process path
    * ([[knnPq]]) and the stored index
    * ([[graft.streaming.StreamingAnnIndex.knnPq]]) — equality is
    * structural, pinned in StreamingSpec. */
  def searchPq(codesDf: DataFrame, books: DataFrame, queries: DataFrame,
               corpus: DataFrame, k: Int, m: Int = 4,
               shortlist: Int = 50): DataFrame = {
    val sub = embeddingDim(queries) / m
    // per-query ADC lookup table: ||q_s - c||^2 for every (subspace, code)
    val qsubs = array((0 until m).map(i => struct(lit(i).as("subspace"),
      slice(col("embedding"), i * sub + 1, sub).as("sv"))): _*)
    val qTable = queries
      .select(col("vec_id").as("query_id"), explode(qsubs).as("s"))
      .select(col("query_id"), col("s.subspace").as("subspace"),
        col("s.sv").as("qdv"))
      .join(broadcast(books), Seq("subspace"))
      .select(col("query_id"), col("subspace"), col("cell").as("code"),
        (dot(col("qdv"), col("qdv")) - lit(2.0) * dot(col("qdv"), col("centv"))
          + dot(col("centv"), col("centv"))).as("d2"))
    val approx = codesDf.join(broadcast(qTable), Seq("subspace", "code"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy("query_id", "vec_id").agg(sum("d2").as("adist"))
    val short = approx.groupBy("query_id")
      .agg(graft.functions.topk_by_score(-col("adist"), col("vec_id"), shortlist).as("top"))
      .select(col("query_id"), explode(col("top")).as("p"))
      .select(col("query_id"), col("p.id").as("neighbor_id"))
    // exact re-rank of the shortlist
    val vecs = corpus.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("vn"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"), norm(col("embedding")).as("qn"))
    val wRank = Window.partitionBy("query_id").orderBy(desc("cos"), asc("neighbor_id"))
    short
      .join(vecs, col("neighbor_id") === col("vec_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(pairCos(col("qv"), col("embedding"), col("qn"), col("vn")), 6).as("cos"))
      .withColumn("rank", row_number().over(wRank)).filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  def readPqCodebooks(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/codebooks").select("subspace", "cell", "centv")

  /** Pairwise cosine above `threshold` within label blocks — embedding
    * near-duplicate detection with an explicit blocking key, the standard
    * way to bound the pair join (block × block instead of n²). At 100 TB
    * the label would be an LSH bucket or cluster id; the join shape — a
    * self-join shuffled on the block key — is identical. */
  def nearDupPairs(emb: DataFrame, threshold: Double): DataFrame = {
    val a = emb.select(col("label"), col("vec_id").as("i"), col("embedding").as("va"),
      norm(col("embedding")).as("na"))
    val b = emb.select(col("label"), col("vec_id").as("j"), col("embedding").as("vb"),
      norm(col("embedding")).as("nb"))
    a.join(b, Seq("label")).filter(col("i") < col("j"))
      .select(col("label"), col("i"), col("j"),
        round(pairCos(col("va"), col("vb"), col("na"), col("nb")), 6).as("cos"))
      .filter(col("cos") > threshold)
      .orderBy("label", "i", "j")
  }

  /** [[nearDupPairs]]' corpus-scale twin — the 100 TB path its doc
    * promises: when no curated label exists, the blocking is BANDED
    * multi-table hyperplane LSH (the MinHash banding trick applied to
    * the embedding side — `Dedup.lshCandidates`' band join is the
    * sibling shape): `tables` independent `planes`-plane sign
    * signatures per vector (plane sets drawn from disjoint ranges of
    * the md5 plane stream, so the whole pipeline stays
    * oracle-checkable), a candidate pair = same bucket in ANY table,
    * union + distinct, then exact cosine verify on the candidate
    * sliver only.
    *
    * Why banded and not one bucket column: a SINGLE `planes`-plane
    * table is a precision/recall deadlock — few planes (round 9's
    * 16-bucket form) keeps recall but makes each bucket n/2^planes
    * vectors, an O(n²/2^planes) within-bucket self-join that goes
    * quadratic at corpus scale; many planes bounds the buckets but a
    * near-dup pair then splits on SOME plane with probability ≈
    * planes·θ/π and recall collapses. Banding decouples the two
    * knobs: per-table precision comes from `planes` (size buckets
    * O(1) by setting planes ≈ log₂ n — 2^planes scales WITH the
    * corpus, so candidates stay O(tables·n), measured linear-vs-
    * quadratic in SCALE.md's candidate-pair growth table), recall from
    * `tables` (a true pair is missed only if it splits in EVERY
    * table: miss ≈ (1-(1-θ/π)^planes)^tables). Candidates from table
    * 0's planes are exactly the round-9 single-table candidates, so
    * recall ≥ the previous form BY CONSTRUCTION (pinned in DedupSpec);
    * the old blocking remains as [[nearDupPairsSingleTable]] for the
    * growth probe's quadratic baseline.
    *
    * Plan shape: the signature relation is (vec_id, tbl, bucket) —
    * 3 narrow columns, projection-only off the scan (explode of
    * `tables` in-row bucket ids); the self-join shuffles only ids on
    * the (tbl, bucket) composite key; `distinct` collapses pairs
    * caught by several tables BEFORE the embedding fetch, so each
    * surviving pair is verified exactly once. EXACT duplicates agree
    * on every plane of every table (recall 1 on them, pinned). */
  /** Production plane schedule (`planes = 0` = auto): enough planes that
    * the EXPECTED bucket occupancy stays ≤ `targetBucket` vectors
    * (2^planes ≈ n / targetBucket — the smallest p with
    * targetBucket·2^p ≥ n, integer arithmetic so the oracle's
    * `ceil(log2(n/64.0))` agrees exactly at power-of-two boundaries),
    * floored at 4 — the fixed oracle parameterization — so corpora up to
    * 16·targetBucket vectors (the sf0.001/sf0.01 oracle regime) produce
    * bit-identical candidates to the fixed form, while large corpora
    * keep per-table candidate work at O(targetBucket·n) regardless of n:
    * the bucket count SCALES WITH the corpus instead of the buckets
    * themselves. Recall cost per added plane is bounded by the banding
    * (miss ≈ (1−(1−θ/π)^planes)^tables). */
  def adaptivePlanes(n: Long, targetBucket: Int = 64): Int = {
    var p = 0
    while ((targetBucket.toLong << p) < n && p < 24) p += 1
    math.max(4, p)
  }

  def nearDupPairsLsh(emb: DataFrame, threshold: Double, planes: Int = 0,
                      tables: Int = 4): DataFrame =
    nearDupPairsLshCore(emb, threshold, planes, tables).orderBy("i", "j")

  /** The UNORDERED verified-pair relation — [[semanticClusters]]
    * materializes this for its components pass, and a global sort
    * there is pure waste twice over: the range exchange's sampling
    * pass re-executes the candidate+verify chain's map stages, and the
    * sort itself orders rows the union-find reads as a bag. Ordering
    * lives only on the public [[nearDupPairsLsh]] surface (the
    * [[graft.operators.Dedup]] candidatesFromBanded treatment). */
  private def nearDupPairsLshCore(emb: DataFrame, threshold: Double,
                                  planes: Int, tables: Int): DataFrame = {
    val dim = embeddingDim(emb)
    // auto schedule sizes off the corpus: one count(*) metadata-level job
    // (parquet row-group counts — no column IO), the price any index
    // build pays for parameter selection
    val p = if (planes > 0) planes else adaptivePlanes(emb.count())
    val sigs = emb.select(col("vec_id"), explode(array((0 until tables).map(t =>
        struct(lit(t).as("tbl"),
          bucketId(col("embedding"), p, dim, t * p).as("bucket"))): _*)).as("s"))
      .select(col("vec_id"), col("s.tbl").as("tbl"), col("s.bucket").as("bucket"))
    val cands = sigs.as("l").join(sigs.as("r"),
        col("l.tbl") === col("r.tbl") && col("l.bucket") === col("r.bucket") &&
          col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("i"), col("r.vec_id").as("j"))
      .distinct()
    val v = emb.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("n"))
    cands
      .join(v.select(col("vec_id").as("i"), col("embedding").as("va"),
        col("n").as("na")), Seq("i"))
      .join(v.select(col("vec_id").as("j"), col("embedding").as("vb"),
        col("n").as("nb")), Seq("j"))
      .select(col("i"), col("j"),
        round(pairCos(col("va"), col("vb"), col("na"), col("nb")), 6).as("cos"))
      .filter(col("cos") > threshold)
  }

  /** Round-9's single-table blocking, retained ONLY as the quadratic
    * baseline in SCALE.md's candidate-pair growth table and the DedupSpec
    * recall-dominance pin — production callers use [[nearDupPairsLsh]].
    * One `planes`-plane bucket per vector; the within-bucket self-join
    * is O(n²/2^planes) with a FIXED bucket count, the shape that goes
    * quadratic at corpus scale. */
  private[graft] def nearDupPairsSingleTable(emb: DataFrame, threshold: Double,
                                             planes: Int = 4): DataFrame = {
    val b = emb.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("n"),
      bucketId(col("embedding"), planes, embeddingDim(emb)).as("bucket"))
    val l = b.select(col("bucket"), col("vec_id").as("i"),
      col("embedding").as("va"), col("n").as("na"))
    val r = b.select(col("bucket"), col("vec_id").as("j"),
      col("embedding").as("vb"), col("n").as("nb"))
    l.join(r, Seq("bucket")).filter(col("i") < col("j"))
      .select(col("i"), col("j"),
        round(pairCos(col("va"), col("vb"), col("na"), col("nb")), 6).as("cos"))
      .filter(col("cos") > threshold)
      .orderBy("i", "j")
  }

  /** SemDeDup-style semantic clusters (s10): connected components over
    * the BANDED-LSH cosine near-dup pairs ([[nearDupPairsLsh]] — so the
    * pair stage inherits the linear-not-quadratic candidate growth),
    * each cluster's min-id member marked `keep` as its canonical
    * representative — the keep/drop verdict embedding-level dedup feeds
    * the curation pipeline (prune all but one of a semantic duplicate
    * group). The label iteration is ENDPOINT-ONLY
    * ([[ConnectedComponents.minLabelOverEndpoints]]): it runs over the
    * near-dup sliver, never the corpus, with checkpointed lineage per
    * round; non-endpoint vectors are semantic singletons and simply
    * keep themselves (no row here — callers anti-join the drop set,
    * `keep = false`, which is exactly `vec_id != cluster_id`). Every
    * emitted cluster has ≥ 2 members by construction (an endpoint
    * always shares its cluster with its pair partner). */
  def semanticClusters(emb: DataFrame, threshold: Double = 0.4,
                       planes: Int = 0, tables: Int = 4,
                       maxIter: Int = 20): DataFrame = {
    val pairs = nearDupPairsLshCore(emb, threshold, planes, tables).select("i", "j")
    val labels = ConnectedComponents.minLabelOverEndpoints(pairs, maxIter)
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("n_vecs"))
    labels.join(sizes, Seq("label"))
      .select(col("node").as("vec_id"), col("label").as("cluster_id"),
        col("n_vecs"), (col("node") === col("label")).as("keep"))
      .orderBy("cluster_id", "vec_id")
  }
}
