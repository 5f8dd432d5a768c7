package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Det._
import graft.functions.VectorOps

/** Approximate nearest-neighbor search — the scale path behind QX3's
  * brute-force cosine top-k.
  *
  * Random-hyperplane LSH with L independent tables: in table l, a
  * vector's key is a B-bit signature (bit i = sign(v . r_{l,i})); two
  * vectors are candidates if they share a key in ANY table. Hyperplanes
  * are derived deterministically from xxhash64(plane*dim+j) — no RNG
  * state, every executor and every run derives identical planes.
  *
  * Plan shape for scale: the bucket equi-join emits bare id pairs,
  * which are DISTINCT'ed while still narrow (two longs) — only the
  * surviving pairs re-attach vectors and pay the codegen'd vec_dot.
  * The re-attach is size-gated (Scale.maybeBroadcast): broadcast while
  * the embedding table fits the session threshold, an ordinary
  * shuffled equi-join on vec_id beyond it — both paths are spec'd
  * equivalent (SketchRecallSpec). Never carry 64-double arrays through
  * a distinct.
  *
  * Tuning note: this corpus's nearest neighbors are weak (cos ~0.5, a
  * ~60° angle), so per-bit collision is only ~2/3 and recall needs many
  * short tables (L=16, B=6 => ~25% of the corpus scanned per query, 4x
  * under brute force). Production near-dup at cos >= 0.9 collides at
  * ~0.93/bit and reaches the same recall with far fewer/longer tables.
  */
object Similarity {

  private val Bits = 6
  private val Tables = 16
  private val Dim = 64

  val xs1 = GQuery(
    "xs1_ann_lsh",
    (s, d) => {
      val c = Ctx(s, d)
      VectorOps.register(s)
      val e = c.embeddings.select(
        col("vec_id"), col("embedding").cast("array<double>").as("v"))
      // plane p (p = l*Bits + i): r[p][j] in [-0.5, 0.5), deterministic
      // plane table: Tables*Bits deterministic hyperplanes, built once
      // and broadcast — NOT re-derived inside a per-vector lambda
      // (recomputing 96 plane arrays per row dominated the first cut).
      val planes = s.range(Tables.toLong * Bits)
        .select(col("id").cast("int").as("p"))
        .withColumn("r", expr(
          s"""transform(sequence(0, ${Dim - 1}), j ->
             |  CAST(pmod(xxhash64(p * $Dim + j), 1000000) AS DOUBLE) / 1000000.0 - 0.5)"""
            .stripMargin))
      // one codegen'd dot per (vector, plane); signature = bit-sum per table
      val bucketed = e.crossJoin(broadcast(planes))
        .select(col("vec_id"),
          (col("p") / Bits).cast("int").as("tbl"),
          (col("p") % Bits).as("bit"),
          (expr("vec_dot(v, r)") > 0).cast("int").as("b"))
        .groupBy("vec_id", "tbl")
        .agg(sum(expr("shiftleft(b, CAST(bit AS INT))")).as("sig"))
        .select(col("vec_id"),
          (col("tbl") * (1 << Bits) + col("sig")).as("bucket"))
      // narrow candidate pairs, deduped before any vector work
      val cand = bucketed.as("a")
        .join(bucketed.as("b"), Seq("bucket"))
        .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("neighbor_id"))
        .filter(col("vec_id") =!= col("neighbor_id"))
        .distinct()
      val withNorm = e.withColumn("nrm", sqrt(expr("vec_dot(v, v)")))
      val va = withNorm.select(col("vec_id"), col("v").as("va"), col("nrm").as("na"))
      val vb = withNorm.select(col("vec_id").as("neighbor_id"),
        col("v").as("vb"), col("nrm").as("nb"))
      val scored = cand
        .join(Scale.maybeBroadcast(va), "vec_id")
        .join(Scale.maybeBroadcast(vb), "neighbor_id")
        .withColumn("score",
          round(expr("vec_dot(va, vb)") / (col("na") * col("nb")), 4))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("score").desc, col("neighbor_id").asc)
      canon(scored
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select("vec_id", "neighbor_id", "score"))
    },
    None)

  /** IVF (inverted-file) approximate top-k — the OTHER classic ANN
    * scale path, complementary to xs1's hyperplane LSH: partition the
    * corpus into K cells around k-means centroids, then score each
    * query only against the cells of its `NProbe` nearest centroids.
    * Fraction of corpus scanned ~ NProbe/K (vs 1.0 for brute force);
    * at 100 TB the cell assignment becomes the partitioning key, so a
    * probe reads only its cells' files — the Spark-native analog of a
    * FAISS IVF index.
    *
    * Everything is DataFrame-native and deterministic:
    *  - init: the K vectors with the lowest xxhash64(vec_id) — a
    *    deterministic uniform sample (TakeOrdered, K rows, bounded).
    *  - Lloyd iterations: assign via a K-row broadcast cross join +
    *    min_by partial aggregate (never shuffles the n×K product);
    *    re-center via posexplode + per-(cell, dim) avg, rounded to 6
    *    decimals so float summation order can't leak into centroids.
    *  - only K centroid rows ever reach the driver (bounded by the
    *    constant K, not the corpus — the collect() rule in SURVEY §7
    *    is about data-sized state).
    *
    * Recall vs exact brute-force top-k is floored in SketchRecallSpec;
    * like xs1 it is honest about this corpus's weak (near-orthogonal)
    * neighbor structure.
    */
  val xs2 = GQuery(
    "xs2_ann_ivf",
    (s, d) => reap {
      val c = Ctx(s, d)
      VectorOps.register(s)
      val e = own(c.embeddings
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", sqrt(expr("vec_dot(v, v)")))
        .persist()) // consumed by init, every Lloyd pass, and both probe sides
      ivfTopK(e, k = 5)
    },
    None)

  private val Cells = 32
  private val NProbe = 8
  private val LloydIters = 2

  /** e: (vec_id, v: array<double>, nrm). Returns the probe-cell
    * ranking: (vec_id, v, nrm, cid, rn) for each vector's NProbe
    * nearest centroids (rn == 1 is the cell assignment), persisted.
    * Shared by the IVF top-k (xs2) and the IVF-blocked semantic dedup
    * (xd7).
    */
  /** The centroid table as a SCAN-STAGE literal: an
    * array<struct<cid, cv, cnrm2>> column sorted by cid ascending.
    * The table is bounded by the constant K (≤ Cells rows — the same
    * bound that lets trainCentroids collect it), so routing against
    * it is per-row arithmetic over a constant, not a join: the
    * crossJoin fan-out, the row_number exchange+sort, and the
    * assignment groupBy it replaces were n×K-row shuffles that exist
    * only to compute a per-row argmin (guide §2.4 — remove shuffles
    * outright). cnrm2 is the same left-to-right fold as vec_dot(cv,cv)
    * (VectorDot's documented accumulation order), so distances are
    * bit-identical to the joined form.
    */
  private def centroidsLit(cents: Array[(Int, Array[Double])])
      : org.apache.spark.sql.Column =
    if (cents.isEmpty) // typed NULL: explode/slice of it emit no rows
      lit(null).cast("array<struct<cid:int,cv:array<double>,cnrm2:double>>")
    else array(cents.sortBy(_._1).map { case (cid, cv) =>
      var n2 = 0.0
      var i = 0
      while (i < cv.length) { n2 += cv(i) * cv(i); i += 1 }
      struct(lit(cid).as("cid"), typedlit(cv.toSeq).as("cv"),
        lit(n2).as("cnrm2"))
    }.toIndexedSeq: _*)

  /** Collect a (cid, cv, cnrm2) centroid frame (≤ Cells rows by
    * construction) into the scan-stage literal form. Shared with
    * AnnIndex.probeBatch (its centroid table comes off disk).
    */
  private[graft] def centroidsLitOf(centroidDf: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.Column =
    centroidsLit(centroidDf.select(col("cid"), col("cv")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)))

  /** Per-row (dist, cid) ranking of `v` against the literal centroid
    * array, ascending — array_sort's struct order (dist, then cid) is
    * exactly the window order (dist asc, cid asc) of the joined form,
    * and min_by(cid, struct(dist, cid))'s tie-break.
    */
  private[graft] def rankedCells(cents: org.apache.spark.sql.Column,
      v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array_sort(transform(cents, c =>
      struct((c.getField("cnrm2") -
          lit(2.0) * call_function("vec_dot", v, c.getField("cv")))
          .as("dist"),
        c.getField("cid").as("cid"))))

  /** Deterministic k-means over `train` (init = lowest-xxhash K-sample,
    * LloydIters assignment/re-center passes), returned as a broadcast
    * (cid, cv, cnrm2) table. Only K centroid rows ever reach the
    * driver (bounded by the constant K, not the corpus).
    *
    * Each Lloyd pass assigns via the scan-stage argmin over the
    * literal centroid array — the r14 form's crossJoin + min_by
    * groupBy + join-back-for-v was 3 exchanges per pass whose only
    * output is a per-row argmin of K constants (guide §2.4); the
    * re-center aggregate (posexplode → per-(cell, dim) avg rounded to
    * 6 decimals) is unchanged, so centroids are identical.
    */
  private[graft] def trainCentroids(train: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val s = train.sparkSession
    import s.implicits._
    graft.functions.VectorOps.register(s)
    // deterministic K-sample init
    var centroids = train
      .withColumn("h", xxhash64(col("vec_id")))
      .orderBy("h").limit(Cells)
      .select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray)
      .zipWithIndex.map { case (v, i) => (i, v) }
    def centroidDf = {
      val rows = centroids.map { case (cid, v) => (cid, v.toSeq) }.toSeq
      broadcast(rows.toDF("cid", "cv")
        .withColumn("cnrm2", expr("vec_dot(cv, cv)")))
    }
    if (centroids.isEmpty) return centroidDf // empty train: no cells
    // argmin_c ||v-c||² = argmin_c (c·c - 2 v·c): v·v is constant per
    // row; element 1 of the (dist, cid)-sorted array is min_by's pick.
    // Re-center as ONE aggregation — dim avg columns per cell instead
    // of posexplode + per-(cell, dim) rows + a second groupBy: the
    // same per-dim means rounded to 6 decimals, one exchange of
    // cells×dim partial sums instead of two over n×dim exploded rows.
    val dim = centroids.head._2.length
    for (_ <- 1 to LloydIters) {
      val assignCid =
        element_at(rankedCells(centroidsLit(centroids), col("v")), 1)
          .getField("cid")
      val aggs = (0 until dim).map(i => round(avg(col("v")(i)), 6).as(s"m$i"))
      centroids = train
        .select(assignCid.as("cid"), col("v"))
        .groupBy("cid")
        .agg(aggs.head, aggs.tail: _*)
        .collect()
        .map(r => (r.getInt(0), Array.tabulate(dim)(i => r.getDouble(i + 1))))
    }
    centroidDf
  }

  /** Rank `e`'s vectors against a trained centroid table: one
    * scan-stage pass computing each vector's NProbe nearest centroids
    * as a sorted (dist, cid) array, exploded to the joined form's
    * output shape. rn == 1 is the cell assignment (the inverted
    * file), rn <= NProbe the probe list. No shuffle: the r14 form's
    * crossJoin + row_number window exchanged n×K rows to rank K
    * constants per row (guide §2.4).
    */
  private[graft] def rankAgainst(e: org.apache.spark.sql.DataFrame,
      centroidDf: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    graft.functions.VectorOps.register(e.sparkSession)
    val cents = centroidDf.select(col("cid"), col("cv")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    if (cents.isEmpty) // no centroids (empty train): no assignments
      return e.select(col("vec_id"), col("v"), col("nrm"),
        lit(0).as("cid"), lit(0.0).as("dist"), lit(1).as("rn")).limit(0)
    e.select(col("vec_id"), col("v"), col("nrm"),
        posexplode(slice(rankedCells(centroidsLit(cents), col("v")), 1, NProbe))
          .as(Seq("p", "pc")))
      .select(col("vec_id"), col("v"), col("nrm"),
        col("pc.cid").as("cid"), col("pc.dist").as("dist"),
        (col("p") + 1).cast("int").as("rn"))
  }

  private[queries] def ivfRanked(e: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    own(rankAgainst(e, trainCentroids(e)).persist())

  /** e: (vec_id, v: array<double>, nrm). Returns top-k (vec_id,
    * neighbor_id, score) per vector among its probed cells.
    */
  private[queries] def ivfTopK(e: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame = {
    val ranked = ivfRanked(e)
    val cells = ranked.filter(col("rn") === 1)
      .select(col("cid"), col("vec_id").as("neighbor_id"),
        col("v").as("vb"), col("nrm").as("nb"))
    val probes = ranked
      .select(col("vec_id"), col("v").as("va"), col("nrm").as("na"), col("cid"))
    // score only within probed cells; exact cosine on survivors
    val scored = probes.join(Scale.maybeBroadcast(cells), "cid")
      .filter(col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        round(expr("vec_dot(va, vb)") / (col("na") * col("nb")), 4).as("score"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    canon(scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("vec_id", "neighbor_id", "score"))
  }

  /** Quantize-then-rescore approximate top-k — the bandwidth-bound
    * scale path: per-vector symmetric int8 quantization (scale =
    * max|v_i| / 127), an all-candidates pass over the QUANTIZED
    * vectors (64-byte rows through the broadcast instead of 512-byte
    * double arrays, integer MACs via the codegen'd vec_dot_i8), a
    * per-query candidate cut at `CandFactor`×k by approximate score,
    * and an exact vec_dot rescore of only those candidates.
    *
    * At 100 TB the full-precision column is READ only for candidate
    * rows (column pruning keeps the wide column out of the first
    * pass entirely); the quantized pass is what streams the corpus.
    * Unlike xs1/xs2 this path's recall is limited only by int8
    * rounding, not bucketing — spec floor 0.9 (measured ~1.0 on this
    * corpus).
    */
  val xs3 = GQuery(
    "xs3_ann_quantized",
    (s, d) => reap {
      val c = Ctx(s, d)
      VectorOps.register(s)
      val k = 5
      val e = own(c.embeddings
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", sqrt(expr("vec_dot(v, v)")))
        .persist()) // quantization + rescore both sides
      val q = e.select(col("vec_id"),
          (expr("array_max(transform(v, x -> abs(x)))") / 127.0).as("scale"),
          col("nrm"), col("v"))
        .withColumn("qv", expr(
          "transform(v, x -> CAST(round(x / scale) AS TINYINT))"))
        .select(col("vec_id"), col("scale"), col("nrm"), col("qv"))
      val qa = q.select(col("vec_id"), col("scale").as("sa"),
        col("nrm").as("na"), col("qv").as("qa"))
      val qb = q.select(col("vec_id").as("neighbor_id"), col("scale").as("sb"),
        col("nrm").as("nb"), col("qv").as("qb"))
      val approx = qa.join(Scale.maybeBroadcast(qb),
          col("vec_id") =!= col("neighbor_id"))
        .select(col("vec_id"), col("neighbor_id"),
          (col("sa") * col("sb") * expr("vec_dot_i8(qa, qb)") /
            (col("na") * col("nb"))).as("ascore"))
      val wApprox = Window.partitionBy(col("vec_id"))
        .orderBy(col("ascore").desc, col("neighbor_id").asc)
      val cand = approx
        .withColumn("rn", row_number().over(wApprox))
        .filter(col("rn") <= k * CandFactor)
        .select("vec_id", "neighbor_id")
      // exact rescore of candidates only
      val va = e.select(col("vec_id"), col("v").as("va"), col("nrm").as("na"))
      val vb = e.select(col("vec_id").as("neighbor_id"),
        col("v").as("vb"), col("nrm").as("nb"))
      val scored = cand
        .join(Scale.maybeBroadcast(va), "vec_id")
        .join(Scale.maybeBroadcast(vb), "neighbor_id")
        .withColumn("score",
          round(expr("vec_dot(va, vb)") / (col("na") * col("nb")), 4))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("score").desc, col("neighbor_id").asc)
      canon(scored
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .select("vec_id", "neighbor_id", "score"))
    },
    None)

  private val CandFactor = 8

  /** IVF-blocked semantic dedup — the 100 TB path behind xd4's exact
    * embedding near-dup. xd4 scores ALL n² pairs (size-gated BNLJ:
    * correct and fast while one side broadcasts, quadratic and dead
    * past it). Here candidate pairs are vectors that CO-PROBE at least
    * one IVF cell (each vector visits its NProbe nearest of K cells),
    * so pairwise work is Σ_cells |cell·probes|² instead of n² — with K
    * scaled to the corpus (K ≈ n/targetCellSize) that is linear in n
    * with a constant the probe width controls. Pairs are deduped while
    * still narrow (two longs), then re-attach vectors size-gated and
    * pay one codegen'd vec_dot each; survivors at rounded cos ≥ 0.45,
    * same contract as xd4.
    *
    * ⊘ rows-only: recall vs xd4's exact pairs is floored in
    * SketchRecallSpec — boundary pairs whose probe sets are disjoint
    * are the honest miss mode (this corpus's near-threshold pairs sit
    * at ~60°, the hardest case; production near-dup at cos ≥ 0.9
    * co-probes essentially always).
    */
  /** Unsorted xd7 pair stage, shared with xd8's clustering (which
    * must not pay xd7's canonical output sort).
    */
  private[queries] def ivfPairs(s: org.apache.spark.sql.SparkSession,
      d: String, threshold: Double): org.apache.spark.sql.DataFrame = {
    val c = Ctx(s, d)
    VectorOps.register(s)
    val e = own(c.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(expr("vec_dot(v, v)")))
      .persist()) // k-means init, Lloyd passes, ranking, both re-attach sides
    val ranked = ivfRanked(e)
    val sides = ranked.select(col("cid"), col("vec_id"))
    val cand = sides.as("a").join(sides.as("b"), "cid")
      .select(col("a.vec_id").as("doc_a"), col("b.vec_id").as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .distinct()
    val va = e.select(col("vec_id").as("doc_a"), col("v").as("va"), col("nrm").as("na"))
    val vb = e.select(col("vec_id").as("doc_b"), col("v").as("vb"), col("nrm").as("nb"))
    cand
      .join(Scale.maybeBroadcast(va), "doc_a")
      .join(Scale.maybeBroadcast(vb), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round4(expr("vec_dot(va, vb)") / (col("na") * col("nb"))).as("score"))
      .filter(col("score") >= threshold)
  }

  val xd7 = GQuery(
    "xd7_semantic_dedup",
    (s, d) => reap(canon(ivfPairs(s, d, 0.45))),
    None)

  /** Query-vs-corpus ANN retrieval — the production SERVING shape
    * (xs1-xs3 are all-pairs analytics; real retrieval is a small query
    * batch probing a standing index, the embedding analog of xd6's
    * batch-vs-corpus dedup). Centroids are trained on the CORPUS ONLY
    * (the index build); the inverted file is the corpus's rn==1 cell
    * assignment; the query batch only ranks against the trained
    * centroids and scores within its NProbe probed cells — corpus
    * vectors outside them are never touched. At 100 TB the index
    * (centroids + cell-partitioned assignments) is persisted once and
    * incrementally appended, while each query batch reads only its
    * probed cells' files (the partition-pruned layout ScaleOpsSpec
    * pins). ⊘ rows-only; bipartite recall vs exact brute force is
    * floored in SketchRecallSpec.
    */
  val xs4 = GQuery(
    "xs4_ann_query",
    (s, d) => reap {
      val c = Ctx(s, d)
      VectorOps.register(s)
      val all = c.embeddings
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", sqrt(expr("vec_dot(v, v)")))
      // corpus feeds k-means init, Lloyd passes, and the cell side
      val corpus = own(all.filter(col("vec_id") % 20 =!= 0).persist())
      val queries = all.filter(col("vec_id") % 20 === 0)
      val cents = trainCentroids(corpus)
      val cells = rankAgainst(corpus, cents).filter(col("rn") === 1)
        .select(col("cid"), col("vec_id").as("neighbor_id"),
          col("v").as("vb"), col("nrm").as("nb"))
      val probes = rankAgainst(queries, cents)
        .select(col("vec_id"), col("v").as("va"), col("nrm").as("na"), col("cid"))
      val scored = probes.join(Scale.maybeBroadcast(cells), "cid")
        .select(col("vec_id"), col("neighbor_id"),
          round(expr("vec_dot(va, vb)") / (col("na") * col("nb")), 4).as("score"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("score").desc, col("neighbor_id").asc)
      canon(scored
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select("vec_id", "neighbor_id", "score"))
    },
    None)

  /** xs5: incremental IVF index maintenance — the DAILY operation on a
    * standing ANN index: a new embedding batch folds in by ASSIGN-ONLY
    * placement against the FROZEN centroids (rankAgainst, rn==1). No
    * retrain, no touching existing assignments — at 100 TB this
    * appends to the cell-partitioned layout while queries keep
    * serving (Snapshot.commitAppend is the transactional carrier).
    * Output is the per-cell census: base/new/total counts plus each
    * side's mean squared centroid distance — the DRIFT signal
    * (new-batch avg_d2 creeping above the base's says the frozen
    * centroids no longer fit the distribution and an xs2 re-train
    * should republish the index; the honest limit of assign-only).
    * IncrementalIvf invariants spec'd: conservation (every vector in
    * exactly one cell) and assignment equivalence (a new vector lands
    * exactly where a same-centroid full rebuild would put it). ⊘
    * rows-only (k-means centroids are not SQL-oracle-expressible).
    */
  val xs5 = GQuery(
    "xs5_ann_incremental",
    (s, d) => reap {
      val c = Ctx(s, d)
      VectorOps.register(s)
      val all = c.embeddings
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", sqrt(expr("vec_dot(v, v)")))
      val base = own(all.filter(col("vec_id") % 10 =!= 0).persist())
      val batch = all.filter(col("vec_id") % 10 === 0)
      val cents = trainCentroids(base)
      // true squared distance = v·v + (cnrm2 - 2 v·c) = nrm² + dist
      def cells(e: org.apache.spark.sql.DataFrame) =
        rankAgainst(e, cents).filter(col("rn") === 1)
          .select(col("cid"), col("vec_id"),
            (col("nrm") * col("nrm") + col("dist")).as("d2"))
      val a = cells(base).groupBy("cid")
        .agg(count(lit(1)).as("n_base"), round(avg("d2"), 4).as("avg_d2_base"))
      val b = cells(batch).groupBy("cid")
        .agg(count(lit(1)).as("n_new"), round(avg("d2"), 4).as("avg_d2_new"))
      canon(a.join(b, Seq("cid"), "full_outer")
        .na.fill(0L, Seq("n_base", "n_new"))
        .withColumn("n_total", col("n_base") + col("n_new")))
    },
    None)

  // ---- product quantization (PQ) — Jégou, Douze, Schmid, "Product
  // Quantization for Nearest Neighbor Search", TPAMI 2011. The
  // memory/bandwidth-bound ANN path complementary to xs3's int8:
  // int8 shrinks each dimension; PQ replaces the VECTOR with PqM
  // one-byte codes, an 8/64th of even the int8 row, at the cost of
  // bucketing error (a code shared by many subvectors), which the
  // candidate-cut + exact-rescore tail absorbs.
  private val PqM = 8 // subspaces (64-dim fixture → 8 dims each)
  private val PqCodes = 32 // centroids per subspace codebook
  // PQ rescore cut: wider than xs3's CandFactor because the ADC
  // ordering carries bucketing error on EVERY pair (xs3's int8 error
  // is rounding-only); candidates stay queries·PqCand·k — bounded.
  private[graft] val PqCandFactor = 24

  /** (vec_id, m, sv): vectors split into PqM contiguous subvectors.
    * Works for any dim divisible by PqM (slice is length-driven).
    */
  private[graft] def subvectors(e: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // fail FAST on an indivisible dimension instead of silently
    // slicing only PqM·floor(dim/PqM) elements — PQ codes that
    // quietly ignore tail dimensions would corrupt every downstream
    // ADC score. raise_error rides the slice's start operand, so the
    // valid path pays one integer mod per row and nothing else.
    val sub = s"CAST(size(v) / $PqM AS INT)"
    val start = s"CASE WHEN size(v) % $PqM != 0 THEN " +
      s"CAST(raise_error(concat('PQ requires dim divisible by $PqM, got ', " +
      s"CAST(size(v) AS STRING))) AS INT) ELSE m * $sub + 1 END"
    e.select(col("vec_id"), col("v"))
      .select(col("vec_id"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"), col("v"))
      .select(col("vec_id"), col("m"),
        expr(s"slice(v, $start, $sub)").as("sv"))
  }

  /** The PqM codebooks as one scan-stage literal: element m+1 is
    * subspace m's array<struct<cid, cv, cnrm2>> sorted by code —
    * bounded by the constants PqM·PqCodes, the same bound that lets
    * trainPqCodebooks collect the books. Reuses the centroid struct
    * shape so rankedCells ranks within a subspace unchanged.
    */
  private def codebooksLit(cb: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.Column = {
    val books = cb.select(col("m"), col("code"), col("cv")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    array((0 until PqM).map { m =>
      centroidsLit(books.collect { case (`m`, code, cv) => (code, cv) })
    }: _*)
  }

  /** Nearest-code assignment of subvectors against a codebook table:
    * (vec_id, m, code). argmin_c ||sv-c||² = argmin_c (c·c - 2 sv·c);
    * distance ties break by lowest code. Shared by the Lloyd passes
    * (training) and the corpus encode. Assignment is the scan-stage
    * argmin over the literal codebooks (element_at by m) — the r14
    * form's (m)-join fan-out (rows × PqCodes) + min_by groupBy were
    * an exchange pair whose only output is a per-row argmin of
    * constants (guide §2.4).
    */
  private[graft] def pqAssign(sv: org.apache.spark.sql.DataFrame,
      cb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    graft.functions.VectorOps.register(sv.sparkSession)
    sv.select(col("vec_id"), col("m"),
      element_at(
        rankedCells(element_at(codebooksLit(cb), col("m") + 1), col("sv")), 1)
        .getField("cid").as("code"))
  }

  /** Deterministic per-subspace k-means over the subvector frame —
    * trainCentroids' discipline applied to all PqM subspaces in ONE
    * distributed pipeline (init + each Lloyd pass is a single job, not
    * PqM of them): init = per-subspace PqCodes lowest-(xxhash, vec_id)
    * subvectors; ONE assignment/re-center Lloyd pass via the
    * PqM·PqCodes-row broadcast codebook + min_by partial aggregate;
    * re-center via posexplode + per-(m, code, pos) avg rounded to 6
    * decimals. Only PqM·PqCodes codebook
    * rows ever reach the driver — bounded by constants, not the
    * corpus. A code that loses all members simply drops out, same as
    * trainCentroids. Returns the broadcast (m, code, cv, cnrm2) table.
    */
  private[graft] def trainPqCodebooks(sv: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val s = sv.sparkSession
    import s.implicits._
    val wInit = Window.partitionBy(col("m"))
      .orderBy(xxhash64(col("vec_id")).asc, col("vec_id").asc)
    var books: Array[(Int, Int, Seq[Double])] = sv
      .withColumn("rn", row_number().over(wInit))
      .filter(col("rn") <= PqCodes)
      .select(col("m"), (col("rn") - 1).as("code"), col("sv"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    def bookDf = broadcast(books.toSeq.toDF("m", "code", "cv")
      .withColumn("cnrm2", expr("vec_dot(cv, cv)")))
    // one Lloyd pass: each pass is a full assign+re-center round trip
    // (a driver-planned action); measured recall at 1 vs 2 passes is
    // within the sample's noise on every SF while the second pass
    // costs ~1.5s of the query's wall — PQ centroids only seed the
    // CODE GEOMETRY, the exact-rescore tail does the precision work.
    // Assignment rides the scan-stage codebook argmin (pqAssign's
    // literal form), and sv carries through the same projection, so
    // the r14 join-back on (vec_id, m) — a second exchange purely to
    // re-attach sv — is gone (guide §2.4); the re-center aggregate is
    // unchanged, so the books are identical.
    for (_ <- 1 to 1) {
      graft.functions.VectorOps.register(s)
      val assignCode = element_at(
        rankedCells(element_at(codebooksLit(bookDf), col("m") + 1), col("sv")),
        1).getField("cid")
      // one aggregation (subdim avg columns per (m, code)) — same
      // per-dim means rounded to 6 decimals as the posexplode +
      // second-groupBy form, one exchange instead of two
      val subdim = books.head._3.length
      val aggs =
        (0 until subdim).map(i => round(avg(col("sv")(i)), 6).as(s"cm$i"))
      books = sv
        .select(col("m"), assignCode.as("code"), col("sv"))
        .groupBy("m", "code")
        .agg(aggs.head, aggs.tail: _*)
        .collect()
        .map(r => (r.getInt(0), r.getInt(1),
          (0 until subdim).map(i => r.getDouble(i + 2))))
    }
    bookDf
  }

  /** xs9: PQ asymmetric-distance retrieval — same query-vs-corpus
    * serving split as xs4, but the corpus is stored as PqM one-byte
    * codes (+ its exact norm), not vectors. Per query, an ADC table
    * holds the query subvector's dot with EVERY codebook centroid
    * (queries·PqM·PqCodes rows, broadcast); the approximate inner
    * product of (query, item) is the sum of the item's PqM table
    * lookups — executed as the codes-⋈-table equi-join on (m, code)
    * plus a per-(query, item) sum of micro-unit-quantized
    * contributions (exact BIGINT summation, so float order can't leak
    * into the candidate cut). Candidates at CandFactor·k by
    * approximate cosine (exact stored norms, approximated dot), then
    * the xs3 tail: exact vec_dot rescore of candidates only.
    *
    * At 100 TB: the scan that streams the corpus reads PqM bytes +
    * one norm per item (the PQ bandwidth story); full vectors are
    * fetched only for candidate rows. Training reads a bounded init
    * sample and two Lloyd passes over subvectors; the codebook and
    * ADC tables are constant-bounded broadcasts. ⊘ rows-only;
    * bipartite recall vs exact brute force is certified by xr12.
    */
  val xs9 = GQuery(
    "xs9_ann_pq",
    (s, d) => reap {
      val c = Ctx(s, d)
      VectorOps.register(s)
      val k = 5
      val all = c.embeddings
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", sqrt(expr("vec_dot(v, v)")))
      val corpus = own(all.filter(col("vec_id") % 20 =!= 0).persist())
      val queries = own(all.filter(col("vec_id") % 20 === 0).persist())
      val sv = own(subvectors(corpus).persist()) // init + Lloyd + encode
      val cb = trainPqCodebooks(sv)
      val codes = pqAssign(sv, cb)
        .select(col("vec_id").as("neighbor_id"), col("m"), col("code"))
      // ADC table: per (query, m, code) the exact contribution of
      // picking that code, micro-unit-quantized for exact summation
      val qtable = subvectors(queries).join(cb, "m")
        .select(col("vec_id"), col("m"), col("code"),
          (round(expr("vec_dot(sv, cv)"), 6) * 1e6).cast("long").as("t"))
      val nb = corpus.select(col("vec_id").as("neighbor_id"), col("nrm").as("nb"))
      val approx = codes
        .join(Scale.maybeBroadcast(qtable), Seq("m", "code"))
        .groupBy(col("vec_id"), col("neighbor_id"))
        .agg((sum(col("t")) / 1e6).as("adot"))
        .join(Scale.maybeBroadcast(nb), "neighbor_id")
        .join(Scale.maybeBroadcast(
          queries.select(col("vec_id"), col("nrm").as("na"))), "vec_id")
        .filter(col("vec_id") =!= col("neighbor_id"))
        .select(col("vec_id"), col("neighbor_id"),
          (col("adot") / (col("na") * col("nb"))).as("ascore"))
      val wApprox = Window.partitionBy(col("vec_id"))
        .orderBy(col("ascore").desc, col("neighbor_id").asc)
      val cand = approx
        .withColumn("rn", row_number().over(wApprox))
        .filter(col("rn") <= k * PqCandFactor)
        .select("vec_id", "neighbor_id")
      val va = queries.select(col("vec_id"), col("v").as("va"), col("nrm").as("na"))
      val vb = corpus.select(col("vec_id").as("neighbor_id"),
        col("v").as("vb"), col("nrm").as("nb"))
      val scored = cand
        .join(Scale.maybeBroadcast(va), "vec_id")
        .join(Scale.maybeBroadcast(vb), "neighbor_id")
        .withColumn("score",
          round(expr("vec_dot(va, vb)") / (col("na") * col("nb")), 4))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("score").desc, col("neighbor_id").asc)
      canon(scored
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .select("vec_id", "neighbor_id", "score"))
    },
    None)

  /** xs6: embedding-space audit — per-DIMENSION statistics of the
    * corpus embedding matrix: mean, variance, zero fraction, and a
    * dead-dimension flag (variance below 1e-6 — a collapsed axis
    * contributes nothing to any distance and usually signals an
    * upstream encoder bug or a truncated export). The quality gate an
    * embedding pipeline runs before building ANN indexes on a new
    * model's vectors; complements the xs1-xs5 family which all ASSUME
    * the space is healthy.
    *
    * Cross-engine exactness for "statistics over floats": each
    * element is quantized to BIGINT (×1e6) in the scan projection.
    * The per-ELEMENT square fits a long with room (|x|<~10 ⇒ q6<1e7,
    * q6²<1e14), and the per-dimension SUMS accumulate as
    * DECIMAL(38,0) — 38 digits absorbs q6²≈1e14 × up to ~1e24 rows,
    * so the aggregates stay exact at ANY corpus size (a BIGINT s2
    * would wrap silently past ~1e5 rows at |x|≈10 in non-ANSI mode).
    * The final mean/variance are single double divisions of exact
    * integers (scale-0 decimal → double is one rounding on both
    * engines) — bit-equal regardless of aggregation order. Output is
    * 64 rows at any corpus size; the only corpus-sized work is one
    * posexplode + partial aggregate in the scan stage.
    */
  val xs6 = GQuery(
    "xs6_embedding_audit",
    (s, d) => {
      val c = Ctx(s, d)
      val q = c.embeddings
        .select(posexplode(expr(
          "transform(CAST(embedding AS ARRAY<DOUBLE>), x -> CAST(round(x * 1e6) AS BIGINT))"))
          .as(Seq("dim", "q6")))
      canon(q.groupBy("dim").agg(
          count(lit(1)).as("n"),
          sum(col("q6").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .as("s"),
          sum((col("q6") * col("q6"))
            .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("s2"),
          sum(when(col("q6") === 0L, 1L).otherwise(0L)).as("n_zero"))
        .select(col("dim"), col("n"),
          round(col("s").cast("double") / col("n") / lit(1e6), 6).as("mean"),
          round((col("s2").cast("double") * col("n") -
              col("s").cast("double") * col("s").cast("double")) /
            (col("n").cast("double") * col("n")) / lit(1e12), 6).as("variance"),
          round(col("n_zero").cast("double") / col("n"), 6).as("zero_frac"),
          ((col("s2").cast("double") * col("n") -
              col("s").cast("double") * col("s").cast("double")) /
            (col("n").cast("double") * col("n")) / lit(1e12) < 1e-6)
            .as("is_dead")))
    },
    Some(
      """WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (
        |  SELECT CAST(d.dim AS INT) AS dim,
        |    CAST(round(v[CAST(d.dim AS INT) + 1] * 1e6) AS BIGINT) AS q6
        |  FROM e, UNNEST(range(len(v))) AS d(dim)),
        |agg AS (
        |  SELECT dim, COUNT(*) AS n, SUM(q6) AS s, SUM(q6 * q6) AS s2,
        |    SUM(CASE WHEN q6 = 0 THEN 1 ELSE 0 END) AS n_zero
        |  FROM q GROUP BY dim)
        |SELECT CAST(dim AS INT) AS dim, n,
        |  ROUND(CAST(s AS DOUBLE) / n / 1e6, 6) AS mean,
        |  ROUND((CAST(s2 AS DOUBLE) * n - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * n) / 1e12, 6) AS variance,
        |  ROUND(CAST(n_zero AS DOUBLE) / n, 6) AS zero_frac,
        |  (CAST(s2 AS DOUBLE) * n - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * n) / 1e12 < 1e-6 AS is_dead
        |FROM agg""".stripMargin +
        orderAll("dim", "n", "mean", "variance", "zero_frac", "is_dead")))

  /** Shared BM25 retrieval core (xs7 + xs8's lexical arm): Okapi BM25
    * (k1 = 1.2, b = 0.75) of query documents (doc_id % 20 == 0, the
    * xs4 split) against the remaining corpus — the lexical retrieval
    * primitive behind retrieval-based decontamination and targeted
    * corpus curation, completing the family next to xt5's corpus-level
    * TF-IDF statistics (which rank terms, not documents).
    *
    * Plan shape: ONE tokenize pass feeds everything — the fused
    * term_counts kernel's (doc, term, tf) rows split into corpus/query
    * sides by a filter on the persisted frame (no second scan), and a
    * scored postings table (term, doc, cu) is built once: the
    * contribution is (term, doc)-local — independent of which query
    * probes it — so the ln/division float kernel runs once per
    * posting, never per (query, posting) pair. Document frequency and
    * length ride in as size-gated broadcasts (vocabulary- and
    * corpus-doc-sized: MBs at 100 TB), corpus-wide scalars (N, avgdl)
    * as a one-row broadcast.
    *
    * The probe is then chosen by a measured corpus statistic, not a
    * guess (qx2's adaptive move):
    *  - vocabulary > 64 terms (real corpora): the distributed
    *    inverted-index probe — the (small-by-definition) query-term
    *    batch broadcasts against the postings on the term key, so the
    *    corpus-sized side never shuffles; per-(query, doc) scores
    *    partial-aggregate inside the probe stage before their
    *    query-batch-bounded exchange. Top-k consumers (xs7, xs8's
    *    lexical arm, Bm25Index.probeBatch) run the max-score PRUNED
    *    form of this probe — `bm25TopKPruned` below — which reads
    *    strictly fewer postings rows for the identical top-k; this
    *    unpruned full-scoring form remains the oracle contract and
    *    the equality baseline (RetrievalSpec).
    *  - vocabulary ≤ 64 terms (this synthetic fixture: 31, with 30 of
    *    them in over half the corpus): the inverted probe degenerates
    *    — every query shares its stopword-dense terms with nearly
    *    every document, so the fan-out IS the (query × corpus) pair
    *    space re-materialized as 21M join rows. Pivot instead: each
    *    document's postings densify into one vocabulary-length score
    *    vector, each query into a 0/1 term-presence vector, and the
    *    pair space is walked once by the codegen'd vec_dot (exact:
    *    the micro-unit integers and 0/1 flags are ≪ 2^53, so the
    *    double dot is integer arithmetic) — same rows, ~6× faster
    *    here. Candidacy (≥1 shared term) is tracked by a second dot
    *    against the presence vector so a shared-term pair whose
    *    rounded contributions sum to zero is still emitted, exactly
    *    like the join path.
    * Both paths return identical integers (RetrievalSpec proves it on
    * a >64-vocab corpus); the oracle SQL keeps the inverted form.
    *
    * Determinism (cross-engine): each per-(term, doc) contribution is
    * computed by the identical double expression in both engines
    * (ln/division on identical inputs — the libm contract xt5/xt6
    * rely on), then quantized to fixed-point BIGINT micro-units
    * BEFORE the per-document sum, so accumulation is exact integer
    * arithmetic with no float-summation order to diverge.
    */
  private[queries] def bm25Scored(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    bm25ScoredOn(s, Ctx(s, d).documents)

  /** The Okapi BM25 contribution expression (k1 = 1.2, b = 0.75),
    * micro-unit-quantized — the ONE definition shared by the batch
    * queries (xs7/xs8) and the serving index
    * (graft.operators.Bm25Index); a parameter change cannot
    * desynchronize them.
    */
  private[graft] val CuSql: String =
    "CAST(round(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * " +
      "((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) * 1e6) AS BIGINT)"

  /** One tokenize pass → (doc_id, term, tf) rows (fused term_counts
    * kernel; shared with the serving index).
    */
  private[graft] def tfTable(s: org.apache.spark.sql.SparkSession,
      documents: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    documents
      .select(col("doc_id"),
        explode(Llm.termCounts(s, col("text"))).as(Seq("term", "tfi")))
      .select(col("doc_id"), col("term"), col("tfi").cast("long").as("tf"))

  /** Bounded top-k ranking of (keyCol, doc_id, score_micro) rows →
    * (keyCol, doc_id, rank, score_micro) — the partial-aggregating
    * TopK + posexplode projection shared by xs7, xs8's lexical arm,
    * and Bm25Index.probeBatch.
    */
  private[graft] def rankTopK(scored: org.apache.spark.sql.DataFrame,
      keyCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    val topk = udaf(new graft.functions.TopK(k),
      org.apache.spark.sql.Encoders.product[graft.functions.Scored])
    scored
      .groupBy(keyCol)
      .agg(topk(col("score_micro").cast("double"), col("doc_id")).as("top"))
      .select(col(keyCol), posexplode(col("top")).as(Seq("p", "t")))
      .select(col(keyCol), col("t.id").as("doc_id"),
        (col("p") + 1).cast("int").as("rank"),
        col("t.score").cast("long").as("score_micro"))
  }

  /** The shared BM25 probe inputs: scored postings (term, doc_id, cu),
    * the query-term table (qid, term), and the per-term df frame (the
    * vocabulary). One tf pass backs all three. NOTE: callers must wrap
    * in reap{} — the tf persist is own()'d into the caller's dynamic
    * scope.
    */
  private[queries] def bm25Parts(s: org.apache.spark.sql.SparkSession,
      documents: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame) =
    bm25PartsFromTf(tfTable(s, documents))

  /** bm25Parts over a caller-built (doc_id, term, tf) frame — the seam
    * that lets xs7b derive its vocabulary-diversified terms by
    * remapping tf rows (one expression over doc-count-sized rows)
    * instead of rebuilding and re-tokenizing the corpus text (a second
    * full tokenize pass, measured ~1s of xs7b's budget at sf0.1).
    * NOTE: callers must wrap in reap{} — the tf persist is own()'d
    * into the caller's dynamic scope.
    */
  private[queries] def bm25PartsFromTf(tf: org.apache.spark.sql.DataFrame,
      qPred: org.apache.spark.sql.Column = col("doc_id") % 20 === 0)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame) = {
    val tf0 = own(tf.persist())
    val ctf = tf0.filter(!qPred)
    val qt = tf0.filter(qPred)
      .select(col("doc_id").as("qid"), col("term"))
    // dl and dfT are each consumed twice (dl: the postings join AND
    // the stats aggregate; dfT: the postings join AND the callers'
    // vocabulary probe) — without the persist each second consumer
    // re-runs a full aggregation over the corpus tf rows (guide §2.4:
    // two operations keyed the same way share one pass). Both frames
    // are bounded (corpus-doc- and vocabulary-sized), so the cache
    // cost is MBs at any corpus scale.
    val dl = own(ctf.groupBy("doc_id").agg(sum(col("tf")).as("dl")).persist())
    val dfT = own(ctf.groupBy("term").agg(count(lit(1)).as("df")).persist())
    val stats = dl.agg(count(lit(1)).as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val postings = ctf
      .join(Scale.maybeBroadcast(dfT), "term")
      .join(Scale.maybeBroadcast(dl), "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("term"), col("doc_id"), expr(CuSql).as("cu"))
    (postings, qt, dfT)
  }

  /** Per-term score upper bounds: ub(t) = max cu over t's postings —
    * the max-score statistic (Turtle & Flood 1995) behind the pruned
    * top-k probe. Every cu is ≥ 0 (Okapi idf is ln of a value > 1 and
    * the tf part is positive), which is what makes partial sums lower
    * bounds and ub sums upper bounds below.
    */
  private[graft] def termUbs(postings: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    postings.groupBy("term").agg(max(col("cu")).as("ub"))

  /** Exact top-k BM25 via two-phase max-score pruning — the executed
    * form of the 100 TB overlay the xs7 docstring declares. Candidate
    * generation never touches the full query×postings fan-out:
    *
    * Phase 1 (floor): each query's terms are ranked by ub descending
    * with suffix sums sufx(i) = Σ_{j≥i} ub_j. The two highest-ub terms
    * (the rarest, shortest posting lists) seed per-doc partial scores —
    * LOWER bounds of full scores since cu ≥ 0 — and the k-th best seed
    * score is the query's floor θ (0 when fewer than k docs seed, which
    * disables pruning and degrades exactly to the unpruned probe).
    *
    * Phase 2 (prune + verify): a term is NON-essential iff sufx < θ —
    * a document containing only such terms scores at most that suffix
    * sum, strictly below θ, so it cannot displace the k-th result even
    * on ties (rank order breaks ties by doc_id, but a strictly smaller
    * score never wins). Only essential terms' postings join; matched
    * docs keep a partial score p and survive iff p + Σ_{non-ess} ub ≥ θ
    * (their full score is at most that). Survivors — WAND's candidate
    * set — are materialized (query-batch-bounded) and their
    * non-essential contributions are fetched doc-keyed, so the common
    * terms' huge posting lists are read only for candidates, never for
    * the whole corpus. Full scores are exact integer sums of the same
    * micro-unit contributions, so the emitted top-k is bit-identical to
    * the unpruned probe (RetrievalSpec proves equality and strictly
    * fewer probed postings rows on a >64-vocab corpus).
    *
    * Both phases are ONE lazy plan: the query-side geometry (ub order,
    * suffix sums, seed pick, θ, the essential split) is query-keyed
    * windows and a θ join, so building the frame submits no Spark job
    * and the probe runs inside its consumer's single action — each
    * partition prunes against its queries' shared θ (REPOSE's top-k
    * shape). RetrievalSpec pins the zero-job build.
    *
    * The two optional Observations meter the postings rows entering the
    * scoring stage (essential fan-out; candidate-restricted rest).
    */
  private[graft] def bm25TopKPruned(
      postings: org.apache.spark.sql.DataFrame,
      ubs: org.apache.spark.sql.DataFrame,
      qt: org.apache.spark.sql.DataFrame,
      keyCol: String,
      k: Int,
      essObs: Option[org.apache.spark.sql.Observation] = None,
      neObs: Option[org.apache.spark.sql.Observation] = None)
      : org.apache.spark.sql.DataFrame = {
    // θ = k-th best seed partial score per query, via the bounded
    // partial-aggregating TopK (rankTopK's aggregator) instead of a
    // row_number window: map tasks reduce to ≤k candidates per query
    // BEFORE the exchange and the full lb set is never sorted
    val topkAgg = udaf(new graft.functions.TopK(k),
      org.apache.spark.sql.Encoders.product[graft.functions.Scored])
    // ---- query-side PLANNING (sufx geometry, seed choice, θ floor,
    // essential/non-essential split): query-keyed windows and one θ
    // join inside the consumer's single action, no driver round trip.
    // Its frames (seed, theta, essential, neTerms) are at most qt's
    // rows plus two longs, but their optimizer estimates multiply
    // through the ubs join, so Scale.maybeBroadcast would never
    // broadcast them and each postings join would shuffle the corpus:
    // gate them on qt's own estimate, doubled for the extra columns.
    val thr = qt.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val qFits = thr > 0 && qt.queryExecution.optimizedPlan.stats.sizeInBytes * 2 <= thr
    def qSide(df: org.apache.spark.sql.DataFrame) = if (qFits) broadcast(df) else df
    val wq = Window.partitionBy(keyCol).orderBy(col("ub").desc, col("term").asc)
    // query-batch-sized term geometry, persisted (lazily) so the seed
    // broadcast and qmeta don't each re-run the ubs join + windows
    val qts = own(qt.join(Scale.maybeBroadcast(ubs), "term")
      .withColumn("sufx", sum(col("ub")).over(
        wq.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .withColumn("pos", row_number().over(wq))
      .persist())
    val seed = qts.filter(col("pos") <= 2).select(keyCol, "term")
    val theta = postings.join(qSide(seed), "term")
      .groupBy(keyCol, "doc_id").agg(sum(col("cu")).as("lb"))
      .groupBy(keyCol).agg(topkAgg(col("lb").cast("double"), col("doc_id")).as("top"))
      .filter(size(col("top")) === k)
      .select(col(keyCol),
        element_at(col("top"), k).getField("score").cast("long").as("theta"))
    // lazy persist, NOT an eager checkpoint: both consumers still
    // compute the floor scan once via the cache, but the whole probe
    // stays ONE action, so AQE schedules the broadcast subplans
    // concurrently instead of behind serial phase-boundary jobs
    val qmeta = own(qts.join(qSide(theta), Seq(keyCol), "left")
      .withColumn("theta", coalesce(col("theta"), lit(0L)))
      // largest non-essential sufx == whole non-essential ub sum; a
      // sort-free partition window rides it on every term row, so the
      // probe needs no separate per-query bound frame (and no join)
      .withColumn("ne_sum",
        max(when(col("sufx") < col("theta"), col("sufx")).otherwise(lit(0L)))
          .over(Window.partitionBy(keyCol)))
      .persist())
    val essential = qmeta.filter(col("sufx") >= col("theta"))
      .select(col(keyCol), col("term"), col("theta"), col("ne_sum"))
    val neTerms = qmeta.filter(col("sufx") < col("theta")).select(keyCol, "term")
    val essRows0 = postings.join(qSide(essential), "term")
    val essRows = essObs.map(o => essRows0.observe(o, count(lit(1)).as("rows")))
      .getOrElse(essRows0)
    // candidates: query-batch-bounded by construction (essential terms
    // are the rare ones); persisted so the union + doc-key join below
    // read it instead of duplicating the essential scan. θ/ne_sum ride
    // on the essential rows (constant per query), so the survival
    // filter needs no bound join.
    val cand = own(essRows.groupBy(keyCol, "doc_id")
      .agg(sum(col("cu")).as("p"), first(col("theta")).as("theta"),
        first(col("ne_sum")).as("ne_sum"))
      .filter(col("p") + col("ne_sum") >= col("theta"))
      .select(col(keyCol), col("doc_id"), col("p"))
      .persist())
    val candKeys = cand.select(col(keyCol), col("doc_id"))
    // candidate-keyed fetch, PAIR-keyed throughout: the doc-key inner
    // join attaches each candidate doc's queries (fan-out bounded by
    // queries-per-candidate-doc, the quantity the θ filter bounds),
    // then the (key, term) equi-join keeps exactly that query's
    // non-essential terms. The r10 shape joined neTerms on term ALONE
    // between two semi-joins — a term shared by q queries fanned every
    // candidate doc's posting row q times before the pair filter
    // (measured an ~85M-row intermediate on the skewed cert corpus
    // when a weak-θ query turned one near-stopword essential);
    // pair-keying makes the intermediate ≤ the final ne-row count.
    val neRows0 = postings
      .join(Scale.maybeBroadcast(candKeys), Seq("doc_id"))
      .join(qSide(neTerms), Seq(keyCol, "term"))
    val neRows = neObs.map(o => neRows0.observe(o, count(lit(1)).as("rows")))
      .getOrElse(neRows0)
    // full scores: the candidate-restricted non-essential contributions
    // aggregate to a candidate-bounded frame and broadcast-join back
    // onto cand (every neRows key IS a candidate by the semi-join), so
    // no union re-aggregation of the essential partial sums is needed
    val nePart = neRows.groupBy(keyCol, "doc_id").agg(sum(col("cu")).as("ne_p"))
    val full = cand.join(Scale.maybeBroadcast(nePart), Seq(keyCol, "doc_id"), "left")
      .select(col(keyCol), col("doc_id"),
        (col("p") + coalesce(col("ne_p"), lit(0L))).as("score_micro"))
    rankTopK(full, keyCol, k)
  }

  /** Top-k BM25 of the query split against the corpus split — the
    * production retrieval entry (xs7, xs8's lexical arm). The same
    * ≤64-term vocabulary probe as bm25ScoredOn picks the path: a
    * small vocabulary ranks the dense pivot's scores, a real one runs
    * the max-score PRUNED probe (exact top-k, strictly fewer postings
    * rows) instead of scoring every posting of every query term.
    */
  private[queries] def bm25TopKOn(s: org.apache.spark.sql.SparkSession,
      documents: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame =
    bm25TopKFromTf(s, tfTable(s, documents), k)

  /** bm25TopKOn over a caller-built tf frame (see bm25PartsFromTf);
    * the ≤64-term vocabulary probe is its one path choice.
    */
  private[queries] def bm25TopKFromTf(s: org.apache.spark.sql.SparkSession,
      tf: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame = {
    val (postings, qt, dfT) = bm25PartsFromTf(tf)
    val vocabProbe = dfT.select("term").limit(65).collect().map(_.getString(0))
    if (vocabProbe.length > 64) {
      // the pruned probe reads the postings FOUR times (ubs, seed,
      // essential, candidate-keyed non-essential) — persist the narrow
      // (term, doc_id, cu) frame once so the scored-contribution float
      // kernel and its two stat joins run once, not per consumer
      // (measured 8.8 s → ~3 s at sf0.1 on the diversified corpus)
      val p = own(postings.persist())
      bm25TopKPruned(p, termUbs(p), qt, "qid", k)
    } else rankTopK(denseScored(s, postings, qt, vocabProbe), "qid", k)
  }

  private[graft] def bm25TopK(s: org.apache.spark.sql.SparkSession,
      d: String, k: Int): org.apache.spark.sql.DataFrame =
    bm25TopKOn(s, Ctx(s, d).documents, k)

  /** RRF(k = 60) fusion of a lexical and a dense rank list + per-query
    * top-N re-rank — ONE definition shared by xs8 (brute-force dense
    * arm, the oracle contract) and the production hybrid over the
    * persisted ANN index (operators.HybridRetrieval), so the fusion
    * arithmetic cannot desynchronize between them. Inputs are bounded
    * rank lists (queries·k rows), so the full-outer join and the
    * re-rank window are query-set-sized at any corpus scale.
    */
  private[graft] def rrfFuse(lexTop: org.apache.spark.sql.DataFrame,
      vecTop: org.apache.spark.sql.DataFrame, topN: Int)
      : org.apache.spark.sql.DataFrame = {
    val fused = lexTop.join(vecTop, Seq("qid", "doc_id"), "full_outer")
      .select(col("qid"), col("doc_id"), col("lex_rank"), col("vec_rank"),
        (coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("vec_rank")), lit(0.0))).as("rrf"))
    val w = Window.partitionBy("qid").orderBy(col("rrf").desc, col("doc_id").asc)
    fused.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topN)
      .select(col("qid"), col("doc_id"), col("lex_rank"), col("vec_rank"),
        round(col("rrf"), 6).as("rrf"))
  }

  /** Full BM25 scores (qid, doc_id, score_micro) of the query split
    * against the corpus split; the ≤64-term vocabulary probe picks the
    * dense pivot or the inverted probe (see bm25Scored).
    */
  private[queries] def bm25ScoredOn(s: org.apache.spark.sql.SparkSession,
      documents: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val (postings, qt, dfT) = bm25Parts(s, documents)
    // Path gate: one bounded vocabulary probe (≤65 rows collected —
    // qx2's limit-65 discipline; never the full vocabulary of a real
    // corpus). NOTE: callers must wrap in reap{} — tf0's persist is
    // own()'d into the caller's dynamic scope.
    val vocabProbe = dfT.select("term").limit(65).collect().map(_.getString(0))
    if (vocabProbe.length > 64) invertedScored(postings, qt)
    else denseScored(s, postings, qt, vocabProbe)
  }

  /** Inverted-index probe with the QUERY side broadcast (size-gated):
    * the corpus-sized postings never shuffle; per-(query, doc) sums
    * partial-aggregate inside the probe stage before their
    * query-batch-bounded exchange.
    */
  private[queries] def invertedScored(postings: org.apache.spark.sql.DataFrame,
      qt: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    postings.join(Scale.maybeBroadcast(qt), "term")
      .groupBy("qid", "doc_id")
      .agg(sum(col("cu")).as("score_micro"))

  /** Dense small-vocabulary pivot (see bm25ScoredOn's gate); `vocabAll`
    * is the corpus's whole vocabulary (every posting term needs an id).
    */
  private[queries] def denseScored(s: org.apache.spark.sql.SparkSession,
      postings: org.apache.spark.sql.DataFrame,
      qt: org.apache.spark.sql.DataFrame,
      vocabAll: Array[String]): org.apache.spark.sql.DataFrame = {
    {
      // Dense small-vocabulary pivot: term → position in the sorted
      // vocabulary (IDs only index vectors; they never reach the
      // output). Micro-unit integers ride as doubles — exact below
      // 2^53 — so the pair walk is one codegen'd vec_dot per side.
      val tid = typedlit(vocabAll.sorted.zipWithIndex.toMap)
      val v = vocabAll.length
      val docVec = postings
        .withColumn("tid", try_element_at(tid, col("term")))
        .groupBy("doc_id")
        .agg(map_from_entries(collect_list(struct(col("tid"), col("cu")))).as("m"))
        .select(col("doc_id"),
          expr(s"transform(sequence(0, ${v - 1}), i -> CAST(coalesce(try_element_at(m, i), 0L) AS DOUBLE))").as("da"),
          expr(s"transform(sequence(0, ${v - 1}), i -> IF(try_element_at(m, i) IS NULL, CAST(0.0 AS DOUBLE), CAST(1.0 AS DOUBLE)))").as("pa"))
      val qVec = qt
        .withColumn("tid", try_element_at(tid, col("term")))
        .filter(col("tid").isNotNull) // query terms absent from the corpus score nothing
        .groupBy("qid")
        .agg(map_from_entries(collect_list(struct(col("tid"), lit(1.0)))).as("m"))
        .select(col("qid"),
          expr(s"transform(sequence(0, ${v - 1}), i -> coalesce(try_element_at(m, i), CAST(0.0 AS DOUBLE)))").as("qa"))
      VectorOps.register(s)
      qVec.crossJoin(Scale.maybeBroadcast(docVec))
        .select(col("qid"), col("doc_id"),
          expr("CAST(vec_dot(qa, da) AS BIGINT)").as("score_micro"),
          expr("vec_dot(qa, pa)").as("hits"))
        .filter(col("hits") > 0d)
        .select("qid", "doc_id", "score_micro")
    }
  }

  /** The shared BM25 WITH-block of the xs7/xs8 oracles (DuckDB). */
  private val Bm25Sql =
    """WITH tok AS (
      |  SELECT doc_id, t.term FROM documents,
      |    UNNEST(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS t(term)),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |ctf AS (SELECT * FROM tf WHERE doc_id % 20 <> 0),
      |qt AS (SELECT doc_id AS qid, term FROM tf WHERE doc_id % 20 = 0),
      |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM ctf GROUP BY 1),
      |dfx AS (SELECT term, COUNT(*) AS df FROM ctf GROUP BY 1),
      |stats AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
      |contrib AS (
      |  SELECT qid, c.doc_id,
      |    CAST(round(ln(1.0 + (n - df + 0.5) / (df + 0.5)) *
      |      ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) * 1e6) AS BIGINT) AS cu
      |  FROM qt JOIN ctf c USING (term) JOIN dfx USING (term)
      |    JOIN dl ON c.doc_id = dl.doc_id CROSS JOIN stats),
      |scored AS (SELECT qid, c.doc_id AS doc_id, CAST(SUM(cu) AS BIGINT) AS score_micro
      |  FROM contrib c GROUP BY 1, 2)""".stripMargin

  /** BM25 top-10 retrieval per query document. Final ranking is the
    * bounded partial-aggregating TopK (qx3's move): each map task
    * reduces to ≤10 candidates per query BEFORE the exchange, so the
    * rank shuffle is queries·10 rows at any corpus size, never the
    * candidate count. Rank order (score_micro DESC, doc_id ASC) is a
    * total order over exact integers — engine-independent.
    */
  val xs7 = GQuery(
    "xs7_bm25_topk",
    (s, d) => reap {
      // persist-before-sort: canonBy's global orderBy executes its
      // child twice (range-boundary sampling); the child here is the
      // whole BM25 pipeline, so cache the queries·10-row top-k first.
      // bm25TopK routes >64-term vocabularies through the max-score
      // PRUNED inverted probe (exact top-k, strictly fewer postings
      // rows — RetrievalSpec), the executed 100 TB path.
      val top = own(bm25TopK(s, d, 10).persist())
      canonBy(top, "qid", "doc_id")
    },
    Some(Bm25Sql +
      """,
        |r AS (SELECT qid, doc_id, score_micro,
        |    row_number() OVER (PARTITION BY qid ORDER BY score_micro DESC, doc_id ASC) AS rn
        |  FROM scored)
        |SELECT qid, doc_id, CAST(rn AS INT) AS rank, score_micro FROM r WHERE rn <= 10""".stripMargin +
        orderAll("qid", "doc_id")))

  /** Builder variant: xs7's retrieval over a SKEWED-VOCABULARY view
    * of the corpus, built so the max-score prune has the statistic it
    * exists to exploit — idf variance. Terms starting with 's' (6 of
    * the fixture's 31: spark/stream/small/sort/slow/scan) carry a
    * per-document numeric suffix (term + 'q' + doc_id % 997), so each
    * suffixed variant appears in only ~0.1% of the corpus (idf ≈ 7),
    * while the other 25 terms stay unsuffixed near-stopwords
    * (idf ≈ 0.26). Queries are the unreplicated doc_id % 20 == 0 docs;
    * the corpus is everything else, replicated 5× (doc_id + 10007·r).
    * Every query then holds ~6 rare terms whose two best seed a θ
    * floor (~2·2.2·idf_rare micro-units) ABOVE the whole common-term
    * suffix sum (~25·2.2·0.26), so the 25 near-stopwords — whose
    * posting lists are ~18k docs each — are provably non-essential and
    * are read only candidate-keyed, never corpus-wide. The full-
    * scoring oracle pays the ~10⁸-row query×postings fan-out that the
    * executed WAND probe skips, and the emitted top-k is still
    * bit-identical (the prune is exact — cu ≥ 0 suffix-sum bounds).
    * This certifies the pruned branch end-to-end, driver-hash-checked,
    * on a corpus where that branch is the right plan — the r10 version
    * (uniform per-doc letter suffix) had uniform idf, so the probe
    * executed but pruned ~nothing and the cert cost ≈ the dense pivot.
    */
  val xs7b = GQuery(
    "xs7b_bm25_pruned",
    (s, d) => reap {
      // replica tf == original tf, so the replication and the suffix
      // both apply to the TF ROWS (term -> suffixed term under the
      // NEW doc_id; the map is injective within a doc): one tokenize
      // pass total, identical to tokenizing the replicated text
      val tf = tfTable(s, Ctx(s, d).documents)
        .select(explode(sequence(lit(0L), lit(4L))).as("r"),
          col("doc_id"), col("term"), col("tf"))
        .select((col("doc_id") + col("r") * lit(10007L)).as("doc_id"),
          col("term"), col("tf"))
        .withColumn("term",
          when(substring(col("term"), 1, 1) === "s",
            concat(col("term"), lit("q"), (col("doc_id") % 997).cast("string")))
            .otherwise(col("term")))
      // queries = the UNreplicated %20 residue (250 at sf0.1): the
      // cert measures probe cost per query against a 5x corpus, so
      // replicating the query batch would only multiply both engines'
      // work without changing what is certified
      val (postings, qt, _) = bm25PartsFromTf(tf,
        col("doc_id") % 20 === 0 && col("doc_id") < 10007L)
      val p = own(postings.persist())
      val top = own(bm25TopKPruned(p, termUbs(p), qt, "qid", 10).persist())
      canonBy(top, "qid", "doc_id")
    },
    Some(Bm25Sql.replace(
      "WITH tok AS (",
      """WITH docs AS (
        |  SELECT doc_id + 10007 * r.r AS doc_id, text
        |  FROM documents CROSS JOIN range(5) AS r(r)),
        |tok AS (""".stripMargin).replace(
      "SELECT doc_id, t.term FROM documents,",
      "SELECT doc_id, CASE WHEN substr(t.term, 1, 1) = 's' " +
        "THEN concat(t.term, 'q', CAST(doc_id % 997 AS VARCHAR)) " +
        "ELSE t.term END AS term FROM docs,").replace(
      "ctf AS (SELECT * FROM tf WHERE doc_id % 20 <> 0),",
      "ctf AS (SELECT * FROM tf WHERE NOT (doc_id % 20 = 0 AND doc_id < 10007)),").replace(
      "qt AS (SELECT doc_id AS qid, term FROM tf WHERE doc_id % 20 = 0),",
      "qt AS (SELECT doc_id AS qid, term FROM tf WHERE doc_id % 20 = 0 AND doc_id < 10007),") +
      """,
        |r AS (SELECT qid, doc_id, score_micro,
        |    row_number() OVER (PARTITION BY qid ORDER BY score_micro DESC, doc_id ASC) AS rn
        |  FROM scored)
        |SELECT qid, doc_id, CAST(rn AS INT) AS rank, score_micro FROM r WHERE rn <= 10""".stripMargin +
        orderAll("qid", "doc_id")))

  /** Hybrid retrieval: reciprocal-rank fusion (k = 60) of the BM25
    * top-10 (lexical arm) with the exact cosine top-10 over the
    * query/corpus embedding split (vec_id ≡ doc_id in this corpus) —
    * the standard lexical+dense fusion for retrieval-based curation
    * and decontamination, where either arm alone misses (paraphrase
    * escapes BM25; rare-entity strings escape embeddings).
    *
    * Scale shape: each arm is independently bounded top-10 per query
    * (BM25 via the partial-aggregating TopK; the dense arm is the
    * brute-force baseline here, with xs1/xs2 as its declared ANN scale
    * path), so fusion operates on queries·10-row inputs — the
    * full-outer rank join and the per-query re-rank are
    * query-set-sized, independent of corpus size. RRF needs only
    * RANKS, never comparable scores, which is why it composes across
    * scoring systems with different scales.
    *
    * Determinism: ranks are exact integers from engine-independent
    * total orders (integer BM25 micro-scores; round4-quantized cosine
    * with id tie-break), and the fused value 1/(60+r_lex) + 1/(60+r_vec)
    * is the same fixed two-term double expression in both engines.
    */
  /** xs8's lexical arm as (qid, doc_id, lex_rank) — shared with the
    * xr8 certification so it is computed once there.
    */
  private[graft] def lexTopRanks(s: org.apache.spark.sql.SparkSession,
      d: String, k: Int): org.apache.spark.sql.DataFrame =
    bm25TopK(s, d, k)
      .select(col("qid"), col("doc_id"), col("rank").as("lex_rank"))

  /** xs8's EXACT dense arm: brute-force round-4 cosine top-k of the
    * query split vs the corpus split, as (qid, doc_id, vec_rank) —
    * the baseline the ANN-armed production hybrid is certified
    * against (xr8).
    */
  private[graft] def denseTopKRanks(s: org.apache.spark.sql.SparkSession,
      d: String, k: Int): org.apache.spark.sql.DataFrame = {
    val c = Ctx(s, d)
    VectorOps.register(s)
    val topk = udaf(new graft.functions.TopK(k),
      org.apache.spark.sql.Encoders.product[graft.functions.Scored])
    val all = c.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(expr("vec_dot(v, v)")))
    val qs = all.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("qid"), col("v").as("va"), col("nrm").as("na"))
    val corpus = all.filter(col("vec_id") % 20 =!= 0)
      .select(col("vec_id").as("doc_id"), col("v").as("vb"), col("nrm").as("nb"))
    qs.crossJoin(Scale.maybeBroadcast(corpus))
      .select(col("qid"), col("doc_id"),
        round4(expr("vec_dot(va, vb)") / (col("na") * col("nb"))).as("score"))
      .groupBy("qid")
      .agg(topk(col("score"), col("doc_id")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("p", "t")))
      .select(col("qid"), col("t.id").as("doc_id"),
        (col("p") + 1).cast("int").as("vec_rank"))
  }

  val xs8 = GQuery(
    "xs8_hybrid_rrf",
    (s, d) => reap {
      // persist-before-sort: both retrieval arms sit under canonBy's
      // double-executing orderBy — cache the queries·5-row result first
      val ranked = own(
        rrfFuse(lexTopRanks(s, d, 10), denseTopKRanks(s, d, 10), 5).persist())
      canonBy(ranked, "qid", "doc_id")
    },
    Some(Bm25Sql +
      """,
        |lex AS (SELECT qid, doc_id, CAST(rn AS INT) AS lex_rank FROM (
        |    SELECT qid, doc_id,
        |      row_number() OVER (PARTITION BY qid ORDER BY score_micro DESC, doc_id ASC) AS rn
        |    FROM scored) WHERE rn <= 10),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT a.vec_id AS qid, b.vec_id AS doc_id,
        |    ROUND(list_dot_product(a.v, b.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS score
        |  FROM e a, e b WHERE a.vec_id % 20 = 0 AND b.vec_id % 20 <> 0),
        |vec AS (SELECT qid, doc_id, CAST(rn AS INT) AS vec_rank FROM (
        |    SELECT qid, doc_id,
        |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rn
        |    FROM p) WHERE rn <= 10),
        |f AS (SELECT COALESCE(lex.qid, vec.qid) AS qid,
        |    COALESCE(lex.doc_id, vec.doc_id) AS doc_id, lex_rank, vec_rank,
        |    COALESCE(CAST(1.0 AS DOUBLE) / (60 + lex_rank), 0.0) +
        |      COALESCE(CAST(1.0 AS DOUBLE) / (60 + vec_rank), 0.0) AS rrf
        |  FROM lex FULL OUTER JOIN vec ON lex.qid = vec.qid AND lex.doc_id = vec.doc_id),
        |r AS (SELECT qid, doc_id, lex_rank, vec_rank, rrf,
        |    row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id ASC) AS rn FROM f)
        |SELECT qid, doc_id, lex_rank, vec_rank, ROUND(rrf, 6) AS rrf FROM r WHERE rn <= 5""".stripMargin +
        orderAll("qid", "doc_id")))

  def queries: Seq[GQuery] =
    Seq(xs1, xs2, xs3, xs4, xs5, xs6, xd7, xs7, xs7b, xs8, xs9)
}
