package graft.queries

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** The retrieval family (xs7 BM25 top-k, xs8 RRF hybrid) and the
  * referential-integrity audit (xv5), beyond the DuckDB oracle:
  *
  *  - Bm25 path equality: the dense small-vocabulary pivot and the
  *    inverted-index probe are the SAME function — proven on a
  *    200-term corpus the ≤64 gate would never route to the dense
  *    path, and on the sf0.001 fixture (31 terms) the gate routes
  *    away from the inverted path. The correctness gate only ever
  *    exercises the auto-chosen path; this spec is what certifies
  *    the other one.
  *  - Bm25 semantics: scores match a from-scratch Scala replay of
  *    Okapi BM25 (k1=1.2, b=0.75, the ln(1+(N-df+0.5)/(df+0.5)) idf)
  *    with the same fixed-point micro-unit quantization.
  *  - Max-score pruned probe: the unpruned top-k with strictly fewer
  *    postings rows, planned lazily (building it runs no Spark job).
  *  - xs7/xs8 shape invariants on the fixture (contiguous ranks,
  *    rank-monotone scores, fused RRF arithmetic).
  *  - fkAudit detects a planted orphan and passes a clean parent set.
  */
class RetrievalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val sf = "/root/testdata/sf0.001"

  private def tokens(text: String): Seq[String] =
    text.toLowerCase.split("[^a-z]+").filter(_.nonEmpty).toSeq

  /** 200 two-letter tokens (tokenizer-safe), GeneralVocabSpec's move. */
  private val vocab: IndexedSeq[String] =
    for (i <- 0 until 200)
      yield s"${('a' + i / 26).toChar}${('a' + i % 26).toChar}"

  /** 30 docs, ids 0..29 (ids 0 and 20 are the query split). Token
    * MULTISETS — BM25's tf matters, so token k of doc i repeats
    * 1 + (i + k) % 3 times. All index arithmetic, no RNG.
    */
  private val corpus: Seq[(Long, Seq[String])] =
    (0 until 30).map { i =>
      val toks = (0 until 20).flatMap { k =>
        Seq.fill(1 + (i + k) % 3)(vocab((i * 7 + k * 3) % 200))
      }
      (i.toLong, toks)
    }

  private def docsDf = {
    import spark.implicits._
    corpus.map { case (id, toks) => (id, toks.mkString(" ")) }
      .toDF("doc_id", "text")
  }

  /** Plain-Scala BM25 replay with the identical expression order. */
  private def scalaBm25: Map[(Long, Long), Long] = {
    val byDoc = corpus.toMap
    val corp = corpus.filter(_._1 % 20 != 0)
    val qs = corpus.filter(_._1 % 20 == 0)
    val tf: Map[(Long, String), Long] = corp.flatMap { case (id, toks) =>
      toks.groupBy(identity).map { case (t, g) => (id, t) -> g.size.toLong }
    }.toMap
    val dl: Map[Long, Long] = corp.map { case (id, toks) => id -> toks.size.toLong }.toMap
    val df: Map[String, Long] = tf.keys.groupBy(_._2).map { case (t, g) => t -> g.size.toLong }
    val n = corp.size.toLong
    val avgdl = dl.values.sum.toDouble / n
    (for {
      (qid, qtoks) <- qs
      t <- qtoks.distinct
      if df.contains(t)
      ((did, _), f) <- tf.filter(_._1._2 == t)
    } yield {
      val idf = math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5))
      val tfn = (f * 2.2) / (f + 1.2 * (0.25 + 0.75 * dl(did) / avgdl))
      ((qid, did), math.floor(idf * tfn * 1e6 + 0.5).toLong)
    }).groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
  }

  private def collectScores(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Long] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  /** The dense pivot over the corpus's FULL vocabulary — the ≤64 gate
    * never routes a >64-term corpus here, so specs call it directly.
    */
  private def denseScores(documents: org.apache.spark.sql.DataFrame) =
    collectScores(Det.reap {
      val (postings, qt, dfT) = Similarity.bm25Parts(spark, documents)
      Similarity.denseScored(spark, postings, qt,
        dfT.select("term").collect().map(_.getString(0)))
    })

  /** The inverted probe, called directly (whatever the vocabulary). */
  private def invertedScores(documents: org.apache.spark.sql.DataFrame) =
    collectScores(Det.reap {
      val (postings, qt, _) = Similarity.bm25Parts(spark, documents)
      Similarity.invertedScored(postings, qt)
    })

  test("synthetic corpus really exceeds the 64-term dense-path limit") {
    assert(corpus.flatMap(_._2).distinct.size > 64)
  }

  test("bm25: dense pivot == inverted probe on a 200-term corpus") {
    val docs = docsDf
    val (a, b) = (denseScores(docs), invertedScores(docs))
    assert(a.nonEmpty && a == b)
  }

  test("bm25: both paths match the plain-Scala Okapi replay") {
    val expected = scalaBm25
    assert(denseScores(docsDf) == expected)
    assert(invertedScores(docsDf) == expected)
  }

  test("bm25: fixture vocabulary routes to the dense path (gate sanity)") {
    // the gate's premise must actually hold on the fixture — without
    // this, auto==inverted passes vacuously via the path-equality
    // theorem even if the gate always routes inverted
    val fixtureVocab = spark.read.parquet(s"$sf/documents.parquet")
      .collect().flatMap(r => tokens(r.getAs[String]("text"))).distinct.length
    assert(fixtureVocab <= 64, s"fixture vocab $fixtureVocab no longer small")
    val auto = collectScores(Det.reap {
      Similarity.bm25Scored(spark, sf)
    })
    val inv = invertedScores(Ctx(spark, sf).documents)
    assert(auto.nonEmpty && auto == inv)
  }

  test("bm25 inverted probe: the query side broadcasts (postings never shuffle)") {
    // the declared 100 TB shape: the corpus-sized postings stream
    // through BroadcastHashJoins only — if ANY join in the probe plan
    // regresses to a SortMergeJoin, the corpus pays a key shuffle per
    // query batch. Asserting zero SMJs (not just "some broadcast join
    // exists") pins the probe join itself, not merely the df/dl stat
    // joins that are broadcast anyway. Plan inspection happens INSIDE
    // the reap scope so tf0's own()'d persist is reaped normally — no
    // session-wide persistent-RDD drain.
    Det.reap {
      val (postings, qt, _) = Similarity.bm25Parts(spark, docsDf)
      val probe = Similarity.invertedScored(postings, qt)
      probe.write.format("noop").mode("overwrite").save()
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"inverted probe lost its broadcast join:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"a probe-plan join regressed to SortMergeJoin:\n$plan")
      probe
    }
  }

  /** Max-score pruning fixture: 10 stopwords in EVERY corpus doc
    * (df ≈ n → tiny idf → tiny ub) + 60 rare terms in ~3 docs each
    * (large ub) = a 70-term vocabulary, above the dense gate. The
    * stopwords' posting lists carry most of the probe's row volume,
    * which is exactly what the pruned probe must skip. Ids 0/20/40
    * are the query split; all index arithmetic, no RNG.
    */
  private val pruneCorpus: Seq[(Long, Seq[String])] = {
    // letter-only tokens — the tokenizer splits on [^a-z]+, so digits
    // in a token would collapse the whole vocabulary
    val stop = (0 until 10).map(j => s"y${('a' + j).toChar}")
    val rare = (0 until 60).map(j =>
      s"z${('a' + j / 26).toChar}${('a' + j % 26).toChar}")
    (0 until 60).map { i =>
      val sw = stop.zipWithIndex.flatMap { case (s, j) =>
        Seq.fill(1 + (i + j) % 2)(s)
      }
      val rr = (0 until 3).map(k => rare((i * 7 + k) % 60))
      (i.toLong, sw ++ rr)
    }
  }

  private def pruneDocsDf = {
    import spark.implicits._
    pruneCorpus.map { case (id, toks) => (id, toks.mkString(" ")) }
      .toDF("doc_id", "text")
  }

  private def topKSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int, Long)] =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet

  test("bm25 pruned probe: identical top-k, strictly fewer postings rows") {
    val docs = pruneDocsDf
    // count TOKENIZED terms, not raw strings — this is what the gate sees
    assert(pruneCorpus.flatMap(_._2.flatMap(tokens)).distinct.size > 64)
    val k = 3
    val expected = topKSet(Det.reap {
      val (postings, qt, _) = Similarity.bm25Parts(spark, docs)
      Similarity.rankTopK(Similarity.invertedScored(postings, qt), "qid", k)
    })
    // rows the UNPRUNED probe feeds its scoring stage: the full
    // postings × query-terms fan-out
    val unprunedRows = Det.reap {
      val (postings, qt, _) = Similarity.bm25Parts(spark, docs)
      postings.join(Scale.maybeBroadcast(qt), "term").groupBy().count()
    }.head().getLong(0)
    val essObs = org.apache.spark.sql.Observation()
    val neObs = org.apache.spark.sql.Observation()
    val pruned = topKSet(Det.reap {
      val (postings, qt, _) = Similarity.bm25Parts(spark, docs)
      Similarity.bm25TopKPruned(postings, Similarity.termUbs(postings), qt,
        "qid", k, Some(essObs), Some(neObs))
    })
    val prunedRows = essObs.get("rows").asInstanceOf[Long] +
      neObs.get("rows").asInstanceOf[Long]
    assert(expected.nonEmpty && pruned == expected)
    assert(prunedRows < unprunedRows,
      s"pruned probe read $prunedRows postings rows, unpruned $unprunedRows")
  }

  test("bm25 pruned probe == unpruned top-k on the 200-term corpus") {
    // the general fixture: every term is middling-frequency, so the
    // floor may prune little — equality must hold even then
    val docs = docsDf
    val k = 5
    val expected = topKSet(Det.reap {
      val (postings, qt, _) = Similarity.bm25Parts(spark, docs)
      Similarity.rankTopK(Similarity.invertedScored(postings, qt), "qid", k)
    })
    val pruned = topKSet(Det.reap {
      val (postings, qt, _) = Similarity.bm25Parts(spark, docs)
      Similarity.bm25TopKPruned(postings, Similarity.termUbs(postings), qt, "qid", k)
    })
    assert(expected.nonEmpty && pruned == expected)
  }

  test("bm25 pruned probe: building the frame submits no Spark job") {
    // the θ floor and the essential split are planned inside the lazy
    // plan, never by a driver collect at build time
    Det.reap {
      val (postings, qt, _) = Similarity.bm25Parts(spark, pruneDocsDf)
      val ubs = Similarity.termUbs(postings)
      val (probe, jobs) = SparkTestSession.jobsIn {
        Similarity.bm25TopKPruned(postings, ubs, qt, "qid", 3)
      }
      assert(jobs == 0, s"building the pruned probe ran $jobs Spark job(s)")
      probe
    }
  }

  test("xs7: contiguous ranks, rank-monotone scores, query split honored") {
    val rows = Similarity.xs7.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (qid, did, _, _) => qid % 20 == 0 && did % 20 != 0 })
    rows.groupBy(_._1).foreach { case (qid, g) =>
      val byRank = g.sortBy(_._3)
      assert(byRank.map(_._3).toSeq == (1 to g.size), s"qid $qid ranks not contiguous")
      assert(g.size <= 10)
      val scores = byRank.map(_._4)
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"qid $qid scores not rank-monotone")
    }
  }

  test("xs8: fused RRF value recomputes from the emitted ranks") {
    val rows = Similarity.xs8.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val lex = if (r.isNullAt(2)) None else Some(r.getInt(2))
      val vec = if (r.isNullAt(3)) None else Some(r.getInt(3))
      assert(lex.nonEmpty || vec.nonEmpty)
      val exp = lex.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        vec.map(x => 1.0 / (60 + x)).getOrElse(0.0)
      assert(math.abs(r.getDouble(4) - exp) < 1e-6)
    }
    // per query at most 5 fused rows
    rows.groupBy(_.getLong(0)).foreach { case (_, g) => assert(g.size <= 5) }
  }

  test("fkAudit: planted orphan detected; clean relation passes") {
    import spark.implicits._
    val child = Seq(1L, 2L, 3L, 99L).toDF("ck")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val bad = Scans.fkAudit("child.ck->parent.pk", child, "ck", parent, "pk")
      .head()
    assert(bad.getLong(1) == 4L && bad.getLong(2) == 1L)
    assert(math.abs(bad.getDouble(3) - 0.25) < 1e-9)
    val clean = Scans.fkAudit("c", child.filter($"ck" =!= 99L), "ck", parent, "pk")
      .head()
    assert(clean.getLong(2) == 0L && clean.getDouble(3) == 0.0)
  }

  test("fkAuditMulti: one-scan fact audit == per-relationship audits") {
    import spark.implicits._
    val child = Seq((1L, 10L), (2L, 11L), (3L, 99L), (4L, 10L))
      .toDF("a_fk", "b_fk")
    val pa = Seq(1L, 2L, 4L).toDF("a_pk")
    val pb = Seq(10L, 11L).toDF("b_pk")
    val multi = Scans.fkAuditMulti(child, Seq(
        ("c.a->a", "a_fk", pa, "a_pk"), ("c.b->b", "b_fk", pb, "b_pk")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val single = Set(
      Scans.fkAudit("c.a->a", child, "a_fk", pa, "a_pk"),
      Scans.fkAudit("c.b->b", child, "b_fk", pb, "b_pk"))
      .map(_.head()).map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(multi == single)
    assert(multi == Set(("c.a->a", 4L, 1L), ("c.b->b", 4L, 1L)))
  }

  test("xv5: every declared relationship of the fixture is intact") {
    val rows = Scans.xv5.fn(spark, sf).collect()
    assert(rows.length == 7)
    rows.foreach { r =>
      assert(r.getLong(2) == 0L, s"${r.getString(0)} has orphans")
      assert(r.getLong(1) > 0L)
    }
  }
}
