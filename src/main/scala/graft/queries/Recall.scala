package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Det._

/** Driver-visible recall/precision certification for the sketch and
  * ANN scale paths (xs1-xs4, xd1, xd2, xd7) — the queries the
  * correctness gate otherwise has to take on the repo's own specs'
  * word (they are ⊘ no-oracle: LSH buckets and k-means cells are not
  * SQL-expressible).
  *
  * Shape: each xr query computes BOTH the sketch result and its exact
  * counterpart IN SPARK, reduces them to driver-bounded scalars
  * (set-intersection counts via semi/anti joins — never a collect of
  * the pair sets), and emits ONE assertion row whose `meets_floor` /
  * `no_false_pos` booleans certify the contract. The DuckDB oracle is
  * the matching CONSTANT row, so the driver's hash compare fails iff
  * a floor is breached — the recall floor becomes an externally
  * checked result instead of an in-repo test. Floors are set from
  * measurements at sf0.001/0.01/0.1 with margin (see each query's
  * note); they certify "the sketch still works", not a tuning target.
  *
  * Scale posture of the AUDIT itself: the exact ANN baselines
  * (xr1-xr4) brute-force only a fixed-count hash-ordered query sample
  * (first [[SampleK]] vec_ids by xxhash64) — O(n·K) at any corpus
  * size, never a fraction of n² — and each query computes its
  * sampled baseline as a driver-resident ≤ SampleK·k id-pair array
  * (bounded by constants). The pair-set certifications (xr5/xr6)
  * stay group-edge arithmetic; xr7 compares two already-subquadratic
  * pair queries.
  *
  * Bench note: these run the sketch AND the exact baseline, so their
  * oracle (a constant row) is meaningless as a DuckDB time baseline —
  * they are SKIP'd in duckbench.py (the xd5 precedent) and appear
  * unbudgeted in RESULTS.md while staying fully hash-checked at the
  * correctness gate.
  */
object Recall {

  /** Project a result down to its key columns and persist — every
    * downstream count/semi/anti action re-executes its inputs' FULL
    * plans otherwise, so an xr query that takes recall AND subset
    * would run the sketch twice and the exact baseline three times.
    * own() scopes the cache to the enclosing reap.
    */
  private def keySet(df: DataFrame, cols: Seq[String]): DataFrame =
    own(df.select(cols.map(col): _*).persist())

  /** |exact ∩ approx| / |exact| over the given key columns, all
    * distributed; 1.0 on an empty exact set. Callers pass
    * keySet-persisted frames whose key tuples are UNIQUE by
    * construction (pair sets / per-(query, rank) lists), which is
    * what lets the denominator and the intersection ride ONE
    * left-join aggregate — the r14 count + semi-join-count pair was
    * two jobs re-reading the same persisted frames.
    */
  private def recallOf(approx: DataFrame, exact: DataFrame,
      cols: Seq[String]): Double = {
    val r = exact
      .join(approx.withColumn("ap", lit(1)), cols, "left")
      .agg(count(lit(1)).as("n"), count(col("ap")).as("inter"))
      .head
    if (r.getLong(0) == 0) 1.0
    else r.getLong(1).toDouble / r.getLong(0)
  }

  /** approx ⊆ exact over the given key columns (precision 1.0).
    * Callers pass keySet-persisted frames.
    */
  private def subsetOf(approx: DataFrame, exact: DataFrame,
      cols: Seq[String]): Boolean =
    approx.join(exact, cols, "left_anti").count() == 0L

  private def report(s: SparkSession, sketch: String, metric: String,
      k: Option[Int], floor: Double, noFalsePos: Option[Boolean],
      meets: Boolean): DataFrame = {
    import s.implicits._
    Seq((sketch, metric, k, floor, noFalsePos, meets))
      .toDF("sketch", "metric", "k", "floor_val", "no_false_pos",
        "meets_floor")
  }

  private def reportSql(sketch: String, metric: String, k: Option[Int],
      floor: Double, noFalsePos: Option[Boolean]): String = {
    val kSql = k.map(_.toString).getOrElse("NULL")
    val nfp = noFalsePos match {
      case Some(b) => b.toString.toUpperCase
      case None => "CAST(NULL AS BOOLEAN)"
    }
    s"""SELECT '$sketch' AS sketch, '$metric' AS metric,
       |  CAST($kSql AS INTEGER) AS k, CAST($floor AS DOUBLE) AS floor_val,
       |  $nfp AS no_false_pos, TRUE AS meets_floor""".stripMargin +
      orderAll("sketch", "metric", "k", "floor_val", "no_false_pos",
        "meets_floor")
  }

  /** The audited query set: the first [[SampleK]] vec_ids in
    * xxhash64 order — a FIXED-COUNT deterministic uniform sample
    * (TakeOrdered over two longs, ties broken by vec_id). Unlike a
    * fraction (`% 5 == 0`), a fixed count keeps the exact-baseline
    * cost O(n·K) at ANY corpus size: the brute force scores K query
    * rows against the corpus, never a constant fraction of n against
    * n. The sketch under certification still runs in full.
    */
  private val SampleK = 500

  private def sampledQueryIds(e: DataFrame): DataFrame =
    e.select(col("vec_id"))
      .orderBy(xxhash64(col("vec_id")).asc, col("vec_id").asc)
      .limit(SampleK)

  /** Exact top-5 over the sampled queries, as driver-resident
    * (vec_id, neighbor_id) pairs — AT MOST SampleK·5 two-long rows by
    * construction (bounded by constants, not data; the SURVEY §7
    * collect rule is about data-sized state). Each of xr1/xr2/xr3
    * computes it from the parquet inputs when it runs, so a refreshed
    * corpus at the same path is audited as it is now. Scoring/tie
    * rules match qx3 exactly (round-4 score desc, neighbor_id asc).
    */
  private def exactTopkSample(s: SparkSession, d: String): Array[(Long, Long)] = {
    graft.functions.VectorOps.register(s)
    val c = Ctx(s, d)
    val topk = udaf(new graft.functions.TopK(5),
      org.apache.spark.sql.Encoders.product[graft.functions.Scored])
    val e = own(c.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(expr("vec_dot(v, v)")))
      .persist())
    val qs = e.join(broadcast(sampledQueryIds(e)), Seq("vec_id"), "left_semi")
      .select(col("vec_id"), col("v").as("va"), col("nrm").as("na"))
    val ref = e.select(col("vec_id").as("neighbor_id"),
      col("v").as("vb"), col("nrm").as("nb"))
    qs.join(Scale.maybeBroadcast(ref),
        col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        round(expr("vec_dot(va, vb)") / (col("na") * col("nb")), 4)
          .as("score"))
      .groupBy("vec_id")
      .agg(topk(col("score"), col("neighbor_id")).as("top"))
      .select(col("vec_id"), explode(col("top")).as("t"))
      .select(col("vec_id"), col("t.id").as("neighbor_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
  }

  /** Recall of an ANN sketch vs the sampled exact baseline.
    * Both compared sets are ≤ SampleK·5 pairs, so the set algebra runs
    * on the driver: the only cluster work is the baseline and the
    * sketch itself, filtered to the sampled queries while
    * still distributed (InSet over ≤ SampleK ids in the scan stage).
    */
  private def topkRecall(name: String, sketch: GQuery, floor: Double) =
    GQuery(
      name,
      (s, d) => reap {
        val base = exactTopkSample(s, d)
        val qids = base.map(_._1).distinct.toSeq.sorted
        val approx = sketch.fn(s, d)
          .filter(col("vec_id").isin(qids: _*))
          .select(col("vec_id"), col("neighbor_id"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .toSet
        val r =
          if (base.isEmpty) 1.0
          else base.count(approx.contains).toDouble / base.length
        System.err.println(f"[recall] $name measured=$r%.4f floor=$floor")
        canon(report(s, sketch.name, "topk_recall_vs_exact", Some(5),
          floor, None, r >= floor))
      },
      Some(reportSql(sketch.name, "topk_recall_vs_exact", Some(5), floor,
        None)))

  // Hyperplane LSH on this corpus's weak (~60°) neighbor structure:
  // measured 0.56 (sf0.01) / 0.62 (sf0.1) on the fixed-count sample;
  // floor 0.40.
  val xr1 = topkRecall("xr1_lsh_recall", Similarity.xs1, 0.40)
  // IVF NProbe/Cells = 25% scan fraction: measured 0.67 (sf0.01) /
  // 0.64 (sf0.1) on the fixed-count sample; floor 0.55.
  val xr2 = topkRecall("xr2_ivf_recall", Similarity.xs2, 0.55)
  // int8 quantize-then-rescore: rounding is the only approximation —
  // measured ~1.0 at all SFs; floor 0.90.
  val xr3 = topkRecall("xr3_quant_recall", Similarity.xs3, 0.90)

  /** xs4 bipartite retrieval vs exact query-vs-corpus brute force.
    * The query POPULATION (vec_id % 20 == 0) is xs4's own definition;
    * the audit additionally fixed-count-samples WHICH queries it
    * exactly re-scores (first SampleK by xxhash64, same rule as
    * xr1-xr3) so the brute-force side stays O(|corpus|·K) at any
    * scale. Both compared sets are ≤ SampleK·5 pairs → driver set
    * algebra, as in topkRecall.
    */
  /** Exact bipartite baseline for the query-vs-corpus sketches (xs4's
    * IVF probe, xs9's PQ-ADC): exact top-5 of the SampleK fixed-count
    * query sample against the full corpus, computed by each of xr4 and
    * xr12 when it runs.
    */
  private def exactBipartiteSample(s: SparkSession, d: String)
      : Array[(Long, Long)] = {
    graft.functions.VectorOps.register(s)
    val c = Ctx(s, d)
    val all = c.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(expr("vec_dot(v, v)")))
    val corpus = all.filter(col("vec_id") % 20 =!= 0)
      .select(col("vec_id").as("neighbor_id"), col("v").as("vb"),
        col("nrm").as("nb"))
    val queries = all.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id"), col("v").as("va"), col("nrm").as("na"))
    val sq = queries.join(broadcast(sampledQueryIds(queries)),
      Seq("vec_id"), "left_semi")
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    sq.crossJoin(corpus)
      .select(col("vec_id"), col("neighbor_id"),
        round(expr("vec_dot(va, vb)") / (col("na") * col("nb")), 4).as("score"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select(col("vec_id"), col("neighbor_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
  }

  val xr4 = GQuery(
    "xr4_query_recall",
    (s, d) => reap {
      val base = exactBipartiteSample(s, d)
      val qids = base.map(_._1).distinct.toSeq.sorted
      val approx = Similarity.xs4.fn(s, d)
        .filter(col("vec_id").isin(qids: _*))
        .select(col("vec_id"), col("neighbor_id"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      // measured ~0.66 at sf0.001 (SketchRecallSpec); floor 0.50
      val floor = 0.50
      val r =
        if (base.isEmpty) 1.0
        else base.count(approx.contains).toDouble / base.length
      System.err.println(f"[recall] xr4_query_recall measured=$r%.4f floor=$floor")
      canon(report(s, "xs4_ann_query", "bipartite_recall_vs_exact",
        Some(5), floor, None, r >= floor))
    },
    Some(reportSql("xs4_ann_query", "bipartite_recall_vs_exact",
      Some(5), 0.50, None)))

  /** xs9's PQ-ADC retrieval vs the same exact bipartite baseline as
    * xr4 (exactBipartiteSample, recomputed here).
    * PQ's approximation is code-bucketing error on the dot product;
    * the PqCandFactor·k cut + exact rescore absorbs most of it, so
    * the measured recall tracks xs3's quantize-then-rescore posture
    * more than xs1/xs2's bucket-miss posture: measured 0.94 (sf0.001)
    * / 0.94 (sf0.01) / 0.75 (sf0.1); floor 0.60.
    */
  val xr12 = GQuery(
    "xr12_pq_recall",
    (s, d) => reap {
      val base = exactBipartiteSample(s, d)
      val qids = base.map(_._1).distinct.toSeq.sorted
      val approx = Similarity.xs9.fn(s, d)
        .filter(col("vec_id").isin(qids: _*))
        .select(col("vec_id"), col("neighbor_id"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      val floor = 0.60
      val r =
        if (base.isEmpty) 1.0
        else base.count(approx.contains).toDouble / base.length
      System.err.println(f"[recall] xr12_pq_recall measured=$r%.4f floor=$floor")
      canon(report(s, "xs9_ann_pq", "bipartite_recall_vs_exact",
        Some(5), floor, None, r >= floor))
    },
    Some(reportSql("xs9_ann_pq", "bipartite_recall_vs_exact",
      Some(5), 0.60, None)))

  /** Doc-pair set comparisons computed at the GROUP-EDGE level.
    *
    * Every document belongs to exactly one distinct-token-set group
    * (doc → its token set → its gid), so a cross-group doc pair maps
    * to exactly ONE group edge, |expand(E)| = Σ_e |ids_a|·|ids_b|,
    * and expand(E1) ∩ expand(E2) = expand(E1 ∩ E2). Intra-group
    * pairs (Σ C(m,2)) sit in BOTH the exact set (identical sets have
    * J=1 ≥ t) and each sketch set (emitted by construction), so
    * doc-level recall/precision reduce exactly to weighted edge sums:
    *
    *   recall = (I + W(Eexact ∩ Eapprox)) / (I + W(Eexact))
    *
    * — identical numbers to expanding, without materializing the
    * multi-million-row doc-pair sets the r6-shaped certification
    * spent its whole runtime on (xr5: 8.5 s → ~3 s at sf0.1).
    */
  private def intraCount(groups: DataFrame): Long =
    groups.agg(coalesce(sum(
      expr("CAST(size(ids) AS BIGINT) * (size(ids) - 1) DIV 2")), lit(0L)))
      .head.getLong(0)

  /** Attach w = |ids_a|·|ids_b| (the expanded doc-pair count) to group
    * edges via broadcast size lookups.
    */
  private def weighted(edges: DataFrame, groups: DataFrame): DataFrame = {
    val sz = groups.select(col("gid"), size(col("ids")).cast("long").as("m"))
    edges.select("gid_a", "gid_b")
      .join(Scale.maybeBroadcast(
        sz.select(col("gid").as("gid_a"), col("m").as("ma"))), "gid_a")
      .join(Scale.maybeBroadcast(
        sz.select(col("gid").as("gid_b"), col("m").as("mb"))), "gid_b")
      .select(col("gid_a"), col("gid_b"), (col("ma") * col("mb")).as("w"))
  }

  /** MinHash-LSH pair recall vs exact J>=0.8 (qx2's pair set), plus
    * the no-false-positives guarantee (every emitted pair is
    * exact-verified by construction — this certifies the verify stage
    * stayed honest).
    */
  val xr5 = GQuery(
    "xr5_minhash_recall",
    (s, d) => reap {
      val cols = Seq("gid_a", "gid_b")
      // ONE setGroups pass feeds both sides: the exact baseline
      // (vocab-gated edge generator == qx2's pair set, GeneralVocabSpec)
      // and the MinHash band-join — tokenized and set-grouped once.
      val groups = Dedup.setGroups(Ctx(s, d).documents)
      val exactE = weighted(Dedup.groupEdgesGated(groups, 0.8), groups)
      val approxE = Dedup.minhashQualifying(groups, 0.8)
        .select(col("gid_a"), col("gid_b"), lit(1).as("ap"))
      // Each edge side is consumed exactly once, so the three scalars
      // (exact weight, intersection weight, false-positive count) come
      // out of ONE full-outer edge join + aggregate — one job instead
      // of the persist + semi + anti + two weight joins the first cut
      // paid (~7 s → ~4 s at sf0.1 on a 698k-edge graph).
      val stats = exactE.join(approxE, cols, "full_outer")
        .agg(coalesce(sum(col("w")), lit(0L)).as("w_exact"),
          coalesce(sum(when(col("ap").isNotNull, col("w"))), lit(0L))
            .as("w_inter"),
          count(when(col("w").isNull, 1)).as("n_fp"))
        .head
      val intra = intraCount(groups)
      val nExact = intra + stats.getLong(0)
      val nInter = intra + stats.getLong(1)
      val noFp = stats.getLong(2) == 0L
      val r = if (nExact == 0) 1.0 else nInter.toDouble / nExact
      // measured 0.9999+ at sf0.001/0.01/0.1 (dup-heavy fixture;
      // banding misses only isolated boundary pairs); floor 0.90
      val floor = 0.90
      canon(report(s, "xd1_minhash_lsh", "pair_recall_vs_exact", None,
        floor, Some(noFp), r >= floor))
    },
    Some(reportSql("xd1_minhash_lsh", "pair_recall_vs_exact", None, 0.90,
      Some(true))))

  /** SimHash@hamming<=3 precision vs exact J>=0.8 — simhash is a
    * TIGHTER filter than J (different metric), so the contract is
    * precision (its hits are true near-dups), not recall. Same
    * edge-weighted arithmetic as xr5; simhash's intra-group pairs
    * (hamming 0) are exact J=1 pairs, so they count as hits.
    */
  val xr6 = GQuery(
    "xr6_simhash_precision",
    (s, d) => reap {
      val cols = Seq("gid_a", "gid_b")
      // shared setGroups frame + one-job edge arithmetic, as in xr5;
      // here the APPROX side carries the weights (precision divides by
      // the sketch's own emissions).
      val groups = Dedup.setGroups(Ctx(s, d).documents)
      val approxE = Dedup.simhashQualifying(groups)
        .select(col("gid_a"), col("gid_b"),
          (size(col("ids_a")).cast("long") * size(col("ids_b"))).as("w"))
      val exactE = Dedup.groupEdgesGated(groups, 0.8)
        .select(col("gid_a"), col("gid_b"), lit(1).as("ex"))
      val stats = approxE.join(exactE, cols, "left_outer")
        .agg(coalesce(sum(col("w")), lit(0L)).as("w_approx"),
          coalesce(sum(when(col("ex").isNotNull, col("w"))), lit(0L))
            .as("w_hit"))
        .head
      val intra = intraCount(groups)
      val n = intra + stats.getLong(0)
      val hit = intra + stats.getLong(1)
      val p = if (n == 0) 1.0 else hit.toDouble / n
      // measured 0.97/0.98/0.98 at sf0.001/0.01/0.1; floor 0.90
      val floor = 0.90
      canon(report(s, "xd2_simhash", "pair_precision_vs_exact", None,
        floor, None, p >= floor))
    },
    Some(reportSql("xd2_simhash", "pair_precision_vs_exact", None, 0.90,
      None)))

  /** ONE limit-collect of a pair frame, gated by the session
    * broadcast threshold: ≤ cap rows proves the whole set fits the
    * same bytes we would broadcast, so the certification's set
    * algebra can run on the driver instead of paying persist + three
    * count/semi/anti jobs; past the cap the caller falls back to the
    * distributed keySet path.
    */
  private def gatedPairSet(df: DataFrame, cols: Seq[String])
      : Option[Set[(Long, Long)]] = {
    val thr = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val cap = if (thr > 0) math.min(thr / 32L, 4000000L).toInt else 0
    if (cap <= 0) return None
    val head = df.select(cols.map(col): _*).limit(cap + 1).collect()
    if (head.length > cap) None
    else Some(head.iterator.map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  /** IVF-blocked semantic dedup vs exact xd4 pairs: subset + recall.
    * Near-dup pair sets are tiny in practice — both sides usually
    * pass the broadcast-gated collect and the whole comparison is
    * driver set algebra (two actions total); either side over the
    * gate degrades to the distributed semi/anti-join path.
    */
  val xr7 = GQuery(
    "xr7_semdup_recall",
    (s, d) => reap {
      val cols = Seq("doc_a", "doc_b")
      // measured 1.0 at sf0.001/0.01/0.1 (threshold pairs co-probe
      // reliably); floor 0.90
      val floor = 0.90
      // probe the EXACT side first: approx ⊆ exact by the subset
      // contract, so if exact is over the gate there is no point
      // probing approx — go straight to the distributed path with no
      // wasted partial execution. The only double-paid case is the
      // contract-violating one (approx over cap while exact fits),
      // where approx re-executes once; the gate probe itself is a
      // TakeOrdered to cap+1, not a full materialization.
      val (r, subset) = gatedPairSet(Dedup.xd4.fn(s, d), cols) match {
        case Some(ex) =>
          gatedPairSet(Similarity.xd7.fn(s, d), cols) match {
            case Some(ap) =>
              val rec = if (ex.isEmpty) 1.0
                else ex.count(ap.contains).toDouble / ex.size
              (rec, ap.subsetOf(ex))
            case None =>
              import s.implicits._
              val exact = keySet(ex.toSeq.toDF(cols: _*), cols)
              val approx = keySet(Similarity.xd7.fn(s, d), cols)
              (recallOf(approx, exact, cols), subsetOf(approx, exact, cols))
          }
        case None =>
          val exact = keySet(Dedup.xd4.fn(s, d), cols)
          val approx = keySet(Similarity.xd7.fn(s, d), cols)
          (recallOf(approx, exact, cols), subsetOf(approx, exact, cols))
      }
      System.err.println(f"[recall] xr7_semdup_recall measured=$r%.4f floor=$floor")
      canon(report(s, "xd7_semantic_dedup", "pair_recall_vs_exact", None,
        floor, Some(subset), r >= floor))
    },
    Some(reportSql("xd7_semantic_dedup", "pair_recall_vs_exact", None, 0.90,
      Some(true))))

  /** The PRODUCTION hybrid (operators.HybridRetrieval: BM25 lexical
    * arm + ANN-index dense arm, same rrfFuse) vs the exact xs8 fusion
    * (brute-force dense arm): fused top-5 recall over (qid, doc_id)
    * pairs. Each run builds the index over the corpus split into a
    * temp dir and deletes it once the result is checkpointed
    * (HybridRetrieval.withCorpusIndex); both compared sets are
    * queries·5 rank rows, compared via the distributed
    * keySet/semi-join path. The lexical arm is IDENTICAL in both
    * forms, so the measured gap is exactly the dense arm's ANN
    * approximation as it survives fusion — measured ≈0.9
    * (sf0.001/0.01); floor 0.50 tracks xr2's posture (certify "still
    * works", not a tuning target).
    */
  val xr8 = GQuery(
    "xr8_hybrid_ann_recall",
    (s, d) => graft.operators.HybridRetrieval.withCorpusIndex(s, d) { idx => reap {
      val cols = Seq("qid", "doc_id")
      // the lexical arm is IDENTICAL in both fusion forms — compute
      // and persist it once, feed it to both (the BM25 pipeline was
      // the audit's dominant duplicated cost)
      val lexTop = own(Similarity.lexTopRanks(s, d, 10).persist())
      val exact = keySet(
        Similarity.rrfFuse(lexTop, Similarity.denseTopKRanks(s, d, 10), 5),
        cols)
      val approx = keySet(
        graft.operators.HybridRetrieval.rrfAnn(s, d, idx, lex = Some(lexTop)),
        cols)
      val floor = 0.50
      val r = recallOf(approx, exact, cols)
      System.err.println(f"[recall] xr8_hybrid_ann_recall measured=$r%.4f floor=$floor")
      canon(report(s, "hybrid_rrf_ann", "fused_topk_recall_vs_exact",
        Some(5), floor, None, r >= floor))
    }},
    Some(reportSql("hybrid_rrf_ann", "fused_topk_recall_vs_exact",
      Some(5), 0.50, None)))

  /** q03c's approx percentiles vs the EXACT quantiles, reduced to one
    * scalar: the max relative error over every (status, quantile)
    * cell. percentile_approx at accuracy 1000 guarantees rank error
    * ≤ n/1000; on this price distribution the value error measures
    * ≈ 0.1% at sf0.01/0.1 — floor 0.05 certifies "the sketch still
    * works", the xr-family contract. Driver state: one scalar.
    */
  val xr9 = GQuery(
    "xr9_percentile_cert",
    (s, d) => reap {
      val c = Ctx(s, d)
      val apx = Aggregates.q03c.fn(s, d)
      val exact = c.orders.groupBy("o_orderstatus").agg(
        expr("percentile(o_totalprice, 0.5)").as("ex_median"),
        expr("percentile(o_totalprice, 0.25)").as("ex_q1"),
        expr("percentile(o_totalprice, 0.75)").as("ex_q3"))
      val err = apx.join(exact, "o_orderstatus")
        .select(greatest(
          abs(col("apx_median") - col("ex_median")) / col("ex_median"),
          abs(col("apx_q1") - col("ex_q1")) / col("ex_q1"),
          abs(col("apx_q3") - col("ex_q3")) / col("ex_q3")).as("e"))
        .agg(max(col("e"))).head.getDouble(0)
      val floor = 0.05
      System.err.println(f"[recall] xr9_percentile_cert measured=$err%.6f tol=$floor")
      canon(report(s, "q03c_approx_percentile", "quantile_max_rel_err",
        None, floor, None, err <= floor))
    },
    Some(reportSql("q03c_approx_percentile", "quantile_max_rel_err",
      None, 0.05, None)))

  /** q04x's HLL estimates vs exact q04 distinct counts: max relative
    * error over every (flag, column) cell. approx_count_distinct's
    * default rsd is 0.05; measured ≈ 1-2% at sf0.01/0.1 — floor 0.15
    * (3× rsd) so a broken sketch fails while estimator noise passes.
    */
  val xr10 = GQuery(
    "xr10_hll_cert",
    (s, d) => reap {
      val apx = Aggregates.q04x.fn(s, d)
      val ex = Aggregates.q04.fn(s, d)
      val err = apx.join(ex, "l_returnflag")
        .select(greatest(
          abs(col("apx_part").cast("double") - col("nd_part")) / col("nd_part"),
          abs(col("apx_supp").cast("double") - col("nd_supp")) / col("nd_supp"))
          .as("e"))
        .agg(max(col("e"))).head.getDouble(0)
      val floor = 0.15
      System.err.println(f"[recall] xr10_hll_cert measured=$err%.6f tol=$floor")
      canon(report(s, "q04x_approx_distinct", "estimate_max_rel_err",
        None, floor, None, err <= floor))
    },
    Some(reportSql("q04x_approx_distinct", "estimate_max_rel_err",
      None, 0.15, None)))

  /** q04y's bucket-merged HLL sketches, certified on BOTH contracts:
    * (a) the merged estimate is within tolerance of the exact distinct
    * count (estimator quality, as xr10), and (b) the merge is
    * BUCKETING-STABLE: re-partitioning the same stream under a
    * completely different bucket key (l_partkey % 13 vs q04y's
    * l_orderkey % 8) and re-merging agrees per cell within 2% — the
    * operational property that makes the persisted partial table
    * incrementally trustworthy. Measured: identical bucketing replays
    * BIT-identically (the sketch pipeline is deterministic), but
    * different bucketings differ by ~1% at sf0.01 and single-pass
    * differs further (HIP vs composite estimator; per-bucket sketch
    * mode transitions) — so exact equality across bucketings is NOT
    * the datasketches contract and is not claimed. (b) rides the
    * boolean slot: TRUE in the oracle row, so instability beyond the
    * band fails the driver hash.
    */
  val xr11 = GQuery(
    "xr11_hllmerge_cert",
    (s, d) => reap {
      val c = Ctx(s, d)
      val merged = own(Aggregates.q04y.fn(s, d).persist())
      val alt = c.lineitem
        .withColumn("bucket", pmod(col("l_partkey"), lit(13)))
        .groupBy("l_returnflag", "bucket")
        .agg(expr("hll_sketch_agg(l_partkey)").as("sk_part"),
          expr("hll_sketch_agg(l_suppkey)").as("sk_supp"))
        .groupBy("l_returnflag")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk_part))").as("alt_part"),
          expr("hll_sketch_estimate(hll_union_agg(sk_supp))").as("alt_supp"))
      val ex = Aggregates.q04.fn(s, d)
      val err = merged.join(ex, "l_returnflag")
        .select(greatest(
          abs(col("apx_part").cast("double") - col("nd_part")) / col("nd_part"),
          abs(col("apx_supp").cast("double") - col("nd_supp")) / col("nd_supp"))
          .as("e"))
        .agg(max(col("e"))).head.getDouble(0)
      val drift = merged.join(alt, "l_returnflag")
        .select(greatest(
          abs(col("apx_part").cast("double") - col("alt_part")) / col("alt_part"),
          abs(col("apx_supp").cast("double") - col("alt_supp")) / col("alt_supp"))
          .as("e"))
        .agg(max(col("e"))).head.getDouble(0)
      val stable = drift <= 0.02
      val floor = 0.15
      System.err.println(
        f"[recall] xr11_hllmerge_cert measured=$err%.6f tol=$floor bucketing_drift=$drift%.6f stable=$stable")
      canon(report(s, "q04y_hll_merge", "merged_estimate_max_rel_err",
        None, floor, Some(stable), err <= floor))
    },
    Some(reportSql("q04y_hll_merge", "merged_estimate_max_rel_err",
      None, 0.15, Some(true))))

  /** xd8's semantic clusters vs an INDEPENDENT driver union-find over
    * xd4's exact cos ≥ 0.45 pairs — ClustersSpec's equality check
    * reduced to one driver-hash-checked assertion row. Independence is
    * two-axis: the edges come from xd4's exact all-pairs (not xd7's
    * IVF blocking) and the closure is a path-compressed DSU (not the
    * star-contraction / min-label machinery under certification), so
    * agreement certifies both the blocking's recall AND the
    * propagation's fixpoint at once. The comparison itself stays
    * distributed (broadcast the ≤pair-population DSU labels, count
    * mismatching rows); the boolean slot carries xd8's keep/size
    * bookkeeping (exactly one keeper per cluster, sizes summing to
    * the corpus). The DSU collect is gated by the same 4M-edge audit
    * cap as the production closure's driver gate — over it the cert
    * fails loudly rather than collecting unbounded pairs.
    */
  val xr13 = GQuery(
    "xr13_cluster_cert",
    (s, d) => reap {
      val got = own(Clusters.xd8.fn(s, d).persist())
      val cap = 4000000
      val pairRows = Dedup.xd4.fn(s, d)
        .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
        .limit(cap + 1).collect()
      require(pairRows.length <= cap,
        s"xr13 audit cap exceeded: > $cap exact pairs")
      // path-compressed DSU with min-id representatives (iterative —
      // no stack depth bound on adversarial chain shapes)
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (c != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      for (r <- pairRows) {
        val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val refLbl = parent.keys.toSeq.map(x => (x, find(x)))
      import s.implicits._
      val refDf = refLbl.toDF("doc_id", "rep_ref")
      val cmp = got.select(col("doc_id"), col("rep_id"))
        .join(broadcast(refDf), Seq("doc_id"), "left")
        .withColumn("rep_ref", coalesce(col("rep_ref"), col("doc_id")))
      val mismatches = cmp.filter(col("rep_id") =!= col("rep_ref")).count()
      // one aggregate over the persisted frame instead of four
      // separate count jobs (keepers, distinct reps, keeper size sum,
      // row count) — same scalars, 4 job round-trips fewer
      val bk = got.agg(
        count(lit(1)).as("nDocs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("nKeep"),
        countDistinct(col("rep_id")).as("nReps"),
        coalesce(sum(when(col("keep"), col("cluster_size"))), lit(0L))
          .as("sizeSum")).head
      val nDocs = bk.getLong(0)
      val nKeep = bk.getLong(1)
      val nReps = bk.getLong(2)
      val sizeSum = bk.getLong(3)
      val booksOk = nKeep == nReps && sizeSum == nDocs
      System.err.println(
        s"[recall] xr13_cluster_cert mismatches=$mismatches " +
          s"keepers=$nKeep reps=$nReps size_sum=$sizeSum docs=$nDocs")
      canon(report(s, "xd8_semantic_clusters", "labels_equal_union_find",
        None, 1.0, Some(booksOk), mismatches == 0L))
    },
    Some(reportSql("xd8_semantic_clusters", "labels_equal_union_find",
      None, 1.0, Some(true))))

  /** xs5's incremental IVF maintenance certified on its two spec'd
    * invariants, driver-hash-checked: CONSERVATION (assigning the
    * full corpus against the frozen centroids places every vector in
    * exactly one cell) and ASSIGNMENT EQUIVALENCE (the incremental
    * batch placement equals where a same-centroid full rebuild puts
    * those vectors — assign-only placement has no cross-row coupling).
    * Equality is a distributed vec_id join comparing cell ids; no
    * centroid or assignment ever reaches the driver beyond the
    * k·centroid constants trainCentroids already collects.
    */
  val xr14 = GQuery(
    "xr14_ivf_incr_cert",
    (s, d) => reap {
      val c = Ctx(s, d)
      graft.functions.VectorOps.register(s)
      val all = own(c.embeddings
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", sqrt(expr("vec_dot(v, v)")))
        .persist())
      val base = own(all.filter(col("vec_id") % 10 =!= 0).persist())
      val batch = all.filter(col("vec_id") % 10 === 0)
      val cents = Similarity.trainCentroids(base)
      def assign(e: DataFrame): DataFrame =
        Similarity.rankAgainst(e, cents).filter(col("rn") === 1)
          .select(col("vec_id"), col("cid"))
      val incr = own(assign(batch).persist())
      val full = own(assign(all).persist())
      val nAll = all.count()
      // conservation's two counts ride one aggregate; the batch-side
      // row count, the incremental row count, and the agreement count
      // ride one left-join aggregate — 6 count jobs -> 3 (the scalars
      // and the certified booleans are unchanged)
      val fs = full.agg(count(lit(1)).as("n"),
        countDistinct(col("vec_id")).as("nd")).head
      val conservation = fs.getLong(0) == nAll && fs.getLong(1) == nAll
      val nBatch = batch.count()
      val as = incr
        .join(full.withColumnRenamed("cid", "cid_full"), Seq("vec_id"), "left")
        .agg(count(lit(1)).as("nIncr"),
          sum(when(col("cid") === col("cid_full"), 1L).otherwise(0L))
            .as("agree")).head
      val agree = if (as.isNullAt(1)) 0L else as.getLong(1)
      val equiv = agree == nBatch && as.getLong(0) == nBatch
      System.err.println(
        s"[recall] xr14_ivf_incr_cert conservation=$conservation " +
          s"agree=$agree batch=$nBatch")
      canon(report(s, "xs5_ann_incremental", "assign_equiv_and_conservation",
        None, 1.0, Some(conservation), equiv && conservation))
    },
    Some(reportSql("xs5_ann_incremental", "assign_equiv_and_conservation",
      None, 1.0, Some(true))))

  /** xm2's REAL decode certified on driver-hash-checked invariants.
    * xm2's checksum/embedding halves are not SQL-expressible (CRC32
    * fold + decoded-sample statistics), so the cert recomputes their
    * contracts IN SPARK by INDEPENDENT means — closed-form arithmetic
    * over doc_id through Spark SQL HOFs, sharing no code with the
    * codec path — and reduces them to one assertion row:
    *  - CHECKSUM: the mapPartitions CRC32 equals Spark's codegen
    *    `crc32()` builtin over the same payload bytes — two
    *    independent implementations agreeing on every row.
    *  - GEOMETRY TIE: embedding dims 0-2 equal the planted geometry
    *    recomputed directly from doc_id (image 8+(id%16)*4 by
    *    8+(id%9)*4; audio duration (400+(id%60)*40)/8 ms; video
    *    1280x720, 2000+(id%30)*1000 ms) — NOT from the same row's
    *    parsed_* fields, so the anchor is a second derivation, not a
    *    re-encode of the decoder's own output (round-12 advice).
    *  - PIXEL/PCM TIE: dims 3-7 equal the planted channel/sample
    *    statistics recomputed per row with sequence/aggregate HOFs
    *    (pure integer arithmetic over (x, y, doc_id) / (i, doc_id) —
    *    no codec involved), i.e. the ImageIO pixel decode and the PCM
    *    sample walk each recover every planted value through
    *    deflate/ImageIO while the anchor never touches the payload.
    *    Video rows keep the byte-stat fold (no JDK codec) and are
    *    checked for shape/bounds only, by declared contract.
    *  - CONSERVATION + SHAPE: one feature row per media row per
    *    document; every embedding is exactly 8-dim with dims 3-7
    *    inside [0,1].
    *  - DETERMINISM: two independently planned extract runs agree
    *    bit-identically on (checksum, embedding) for every doc — the
    *    replay property a production backfill depends on.
    *  - CORRUPT SAFETY: truncating every payload below the shortest
    *    format magic still decodes (never throws) and classifies
    *    'unknown' on every row — the decode-stage never-crash
    *    contract.
    * All comparisons are distributed joins/aggregates; only counts
    * reach the driver; the HOF recompute is bounded per row (<= 2760
    * elements, the planted fixture sizes). The decoded-sample sums
    * themselves are ALSO DuckDB-hash-matched via xm6's oracle — this
    * cert ties xm2's embedding encoding to the same ground truth.
    */
  val xr15 = GQuery(
    "xr15_media_cert",
    (s, d) => reap {
      import s.implicits._
      val mm = graft.multimodal.Multimodal
      val media = own(mm.encodedMediaTable(s, d).persist())
      val feats = own(mm.extractFeaturesReal(media).toDF().persist())
      val nDocs = s.read.parquet(s"$d/documents.parquet").count()
      val nMedia = media.count()
      val nFeats = feats.count()
      // independent geometry: the planted closed forms over doc_id
      // (video geometry comes from the DECODED y4m stream: vidWidth/
      // vidHeight/vidFrames at 40 ms per frame)
      val w = expr("CASE doc_id % 3 WHEN 0 THEN 8 + (doc_id % 16) * 4 " +
        "WHEN 1 THEN 0 ELSE 8 + (doc_id % 8) * 4 END")
      val h = expr("CASE doc_id % 3 WHEN 0 THEN 8 + (doc_id % 9) * 4 " +
        "WHEN 1 THEN 0 ELSE 8 + (doc_id % 6) * 4 END")
      val dur = expr("CASE doc_id % 3 WHEN 0 THEN 0 " +
        "WHEN 1 THEN (400 + (doc_id % 60) * 40) / 8 " +
        "ELSE (2 + (doc_id % 4)) * 40 END")
      def e(i: Int) = element_at(col("embedding"), i).cast("double")
      // Per-family recompute in ONE chained projection, so ALL
      // invariant counters ride ONE aggregate pass over the persisted
      // frame + one crc join pass (r14 ran crc/geometry/pixel/pcm/
      // video/shape as six separate filter().count() jobs — guide §5).
      // The per-row sample-statistic folds run in the codegen'd
      // plant_stats kernel — one tight integer pass per row instead of
      // the interpreted aggregate/transform HOF walks that dominated
      // this cert's cost (and whose fresh interpreted classes made it
      // the sweep's C2-compiler-storm magnet — r15 verdict item #4);
      // MediaStatsSpec pins bit-equality against those HOF forms, and
      // the closed forms over doc_id stay independent of the codec
      // path. Element layout: image/video [sums.., ch1_max, ch1_min];
      // audio [sum_abs, min, max].
      def guarded(mt: String, sql: String): org.apache.spark.sql.Column =
        expr(s"CASE WHEN media_type = '$mt' THEN $sql ELSE NULL END")
      graft.functions.MediaPlantStats.register(s)
      val withStats = feats
        .withColumn("ps", expr("plant_stats(media_type, doc_id)"))
        .withColumn("in_", guarded("image", "(8 + (doc_id % 16) * 4) * (8 + (doc_id % 9) * 4)"))
        .withColumn("an", guarded("audio", "400 + (doc_id % 60) * 40"))
        .withColumn("vn", guarded("video", "(8 + (doc_id % 8) * 4) * (8 + (doc_id % 6) * 4) * (2 + (doc_id % 4))"))
      def ps(i: Int) = element_at(col("ps"), i).cast("double")
      val geomBadC =
        abs(e(1) - w.cast("double") / 4096d) > 1e-6 ||
          abs(e(2) - h.cast("double") / 4096d) > 1e-6 ||
          abs(e(3) - dur.cast("double") / 1000d / 256d) > 1e-6
      val pixBadC = col("media_type") === "image" && (
        abs(e(4) - ps(1) / col("in_") / 255d) > 1e-6 ||
          abs(e(5) - ps(2) / col("in_") / 255d) > 1e-6 ||
          abs(e(6) - ps(3) / col("in_") / 255d) > 1e-6 ||
          abs(e(7) - ps(4) / 255d) > 1e-6 ||
          abs(e(8) - ps(5) / 255d) > 1e-6)
      val pcmBadC = col("media_type") === "audio" && (
        abs(e(4) - ps(1) / col("an") / 32768d) > 1e-6 ||
          abs(e(5) - (ps(2) + 32768d) / 65536d) > 1e-6 ||
          abs(e(6) - (ps(3) + 32768d) / 65536d) > 1e-6)
      val vidBadC = col("media_type") === "video" && (
        abs(e(4) - ps(1) / col("vn") / 255d) > 1e-6 ||
          abs(e(5) - ps(2) / col("vn") / 255d) > 1e-6 ||
          abs(e(6) - ps(3) / col("vn") / 255d) > 1e-6 ||
          abs(e(7) - ps(4) / 255d) > 1e-6 ||
          abs(e(8) - ps(5) / 255d) > 1e-6)
      val shapeBadC = size(col("embedding")) =!= 8 ||
        exists(slice(col("embedding"), 4, 5),
          x => x < lit(0f) || x > lit(1f))
      def cnt(c: org.apache.spark.sql.Column) =
        sum(when(c, 1L).otherwise(0L))
      val inv = withStats
        .join(media.toDF().select(col("doc_id"),
          crc32(col("content")).as("crc_sql")), "doc_id")
        .agg(cnt(col("checksum") =!= col("crc_sql")).as("crc"),
          cnt(geomBadC).as("geom"), cnt(pixBadC).as("pix"),
          cnt(pcmBadC).as("pcm"), cnt(vidBadC).as("vid"),
          cnt(shapeBadC).as("shape")).head
      val crcMismatch = inv.getLong(0)
      val geomBad = inv.getLong(1)
      val pixBad = inv.getLong(2)
      val pcmBad = inv.getLong(3)
      val vidBad = inv.getLong(4)
      val shapeBad = inv.getLong(5)
      val again = mm.extractFeaturesReal(media).toDF()
        .select(col("doc_id"), col("checksum").as("ck2"),
          col("embedding").as("emb2"))
      val nondet = feats.join(again, "doc_id")
        .filter(col("checksum") =!= col("ck2") ||
          col("embedding") =!= col("emb2")).count()
      val corrupt = mm.extractFeaturesReal(
        media.map(r => r.copy(content = r.content.take(7)))).toDF()
      val corruptOk = corrupt.filter(col("parsed_format") === "unknown")
        .count() == nMedia
      val conserved = nFeats == nMedia && nMedia == nDocs
      val ok = crcMismatch == 0L && geomBad == 0L && pixBad == 0L &&
        pcmBad == 0L && vidBad == 0L && shapeBad == 0L && nondet == 0L &&
        corruptOk && conserved
      System.err.println(
        s"[recall] xr15_media_cert crc_mismatch=$crcMismatch " +
          s"geom_bad=$geomBad pix_bad=$pixBad pcm_bad=$pcmBad " +
          s"vid_bad=$vidBad shape_bad=$shapeBad nondet=$nondet " +
          s"corrupt_ok=$corruptOk conserved=$conserved")
      canon(report(s, "xm2_media_features", "real_decode_invariants",
        None, 1.0, Some(crcMismatch == 0L && nondet == 0L), ok))
    },
    Some(reportSql("xm2_media_features", "real_decode_invariants",
      None, 1.0, Some(true))))

  /** xt16's BPE trainer certified on driver-hash-checked invariants
    * (the iterative argmax is not SQL-expressible):
    *  - DETERMINISM: two independent train runs learn the identical
    *    merge table — the replay property a shipped tokenizer needs.
    *  - FIRST-MERGE ARGMAX: merge #1 equals the corpus's true
    *    max-count adjacent char pair (count desc, pair lex asc)
    *    recomputed by an INDEPENDENT path — substring HOFs over raw
    *    tokens, never the trainer's spaced strings or struct pairs.
    *  - CONSERVATION: the encoder's per-doc alpha-char totals equal a
    *    plain SQL regexp char count of the corpus — merging reorders
    *    symbol boundaries, never characters.
    *  - IMPLEMENTATION TIE: total corpus token count out of the
    *    TRAINER's final vocabulary state (word-level column
    *    regexp_replace fixpoint, distributed actions) equals the
    *    count out of the ENCODER (per-doc JVM String.replace
    *    fixpoint, xt15's oracle-matched path) under the learned
    *    merges — two implementations of the binding semantics
    *    agreeing on every document.
    *  - COMPRESSION: the learned merges strictly reduce the corpus
    *    token count below its character count (the trainer did
    *    something).
    * All aggregates distributed; only the k-row merge tables and
    * scalar totals reach the driver.
    */
  val xr16 = GQuery(
    "xr16_bpe_cert",
    (s, d) => reap {
      val c = Ctx(s, d)
      val docs = own(c.documents.persist())
      // two independent train runs for the determinism clause
      val (m1, trainerToks) = Bpe.trainRun(s, d, 24)
      val m2 = Bpe.trainRun(s, d, 24)._1
      val deterministic = m1 == m2 && m1.size == 24
      val first = docs
        .select(explode(Llm.tokens(s, col("text"))).as("w"))
        .filter(length(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), " +
            "i -> struct(substring(w, i, 1) AS a, substring(w, i + 1, 1) AS b))"))
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      val argmaxOk = first.nonEmpty && m1.headOption.contains(
        (first(0).getString(0), first(0).getString(1)))
      val enc = own(Bpe.encodeStats(s, d, m1).persist())
      val tot = enc.agg(
        sum(col("n_chars")).cast("long"),
        sum(col("n_bpe_tokens")).cast("long")).head
      val (chars, toks) = (tot.getLong(0), tot.getLong(1))
      val charsSql = docs.select(
        sum(length(regexp_replace(lower(col("text")), "[^a-z]", "")))
          .cast("long")).head.getLong(0)
      val conserved = chars == charsSql
      val tie = trainerToks == toks
      val compressed = toks < chars
      val ok = deterministic && argmaxOk && conserved && tie && compressed
      System.err.println(
        s"[recall] xr16_bpe_cert deterministic=$deterministic " +
          s"argmax_ok=$argmaxOk conserved=$conserved tie=$tie " +
          s"chars=$chars toks=$toks trainer_toks=$trainerToks")
      canon(report(s, "xt16_bpe_train", "train_invariants",
        None, 1.0, Some(deterministic && tie), ok))
    },
    Some(reportSql("xt16_bpe_train", "train_invariants",
      None, 1.0, Some(true))))

  def queries: Seq[GQuery] =
    Seq(xr1, xr2, xr3, xr4, xr5, xr6, xr7, xr8, xr9, xr10, xr11, xr12,
      xr13, xr14, xr15, xr16)
}
