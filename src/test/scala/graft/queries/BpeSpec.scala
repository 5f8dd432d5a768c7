package graft.queries

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** BPE semantics pinned on hand-checkable inputs: the binding
  * fixpoint-replace merge application (boundary safety, overlap runs,
  * rank-ascending completeness), a hand corpus with derivable merges,
  * and the provenance of the shipped constant table.
  */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def toks(s: String): Seq[String] =
    s.split(" +").filter(_.nonEmpty).toSeq

  test("spacedDoc: one symbol per alpha char, >= 3-space word gaps") {
    assert(toks(Bpe.spacedDoc("cat")) == Seq("c", "a", "t"))
    assert(toks(Bpe.spacedDoc("Cat, hat!")) ==
      Seq("c", "a", "t", "h", "a", "t"))
    // gap width blocks cross-word merges: t|h adjacent across words
    val s = Bpe.spacedDoc("cat hat")
    assert(s.contains("t    h") || s.contains("t   h"),
      s"word gap too narrow in '$s'")
    assert(Bpe.applyMerge(s, "t", "h") == s,
      "merge must not fire across a word boundary")
    assert(toks(Bpe.spacedDoc("")) == Nil)
    assert(toks(Bpe.spacedDoc("123 !?")) == Nil)
  }

  test("applyMerge: boundary safety and overlap runs") {
    // token 'ba' followed by 'b': pattern ' a b ' must NOT match the
    // 'a' inside 'ba' (the naive unflanked replace bug)
    assert(Bpe.applyMerge(" ba b ", "a", "b") == " ba b ")
    // overlap run: one replace-all pass leaves ' aa a a '; the
    // fixpoint closes it to ' aa aa '
    assert(Bpe.applyMerge(" a a a a ", "a", "a") == " aa aa ")
    // odd run: greedy-left — [aa, a]
    assert(Bpe.applyMerge(" a a a ", "a", "a") == " aa a ")
    // no occurrence: unchanged
    assert(Bpe.applyMerge(" x y ", "a", "b") == " x y ")
  }

  test("encode applies ranks in order; later merges consume earlier outputs") {
    // 'hash' under the shipped chain (a,s)->(as,h)->(h,ash): one token
    val enc = Bpe.encode("hash", Bpe.ShippedMerges)
    assert(toks(enc) == Seq("hash"))
    assert(toks(Bpe.encode("join", Bpe.ShippedMerges)) == Seq("join"))
    assert(toks(Bpe.encode("batch", Bpe.ShippedMerges)) == Seq("batch"))
    // a word none of the merges touch stays char-split
    assert(toks(Bpe.encode("qqq", Bpe.ShippedMerges)) == Seq("q", "q", "q"))
  }

  private def drainCaches(): Unit = {
    // train persists internally via own(); outside a reap those are
    // bare persists — drop them so the suite leaves no cache behind
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  test("trainer on a hand corpus learns the derivable merges") {
    import spark.implicits._
    // 'abab' x3 + 'ab' x2: pair counts a|b=8, b|a=3 -> merge 1 = (a,b);
    // then ab|ab=3 -> merge 2 = (ab,ab)
    val docs = Seq("abab abab abab", "ab ab").toDF("text")
    try {
      val (ms, v) = Bpe.trainWithVocab(spark, docs, 2)
      assert(ms == Seq(("a", "b"), ("ab", "ab")), s"learned $ms")
      assert(v.count() == 2) // vocabulary: {abab, ab}
      val forms = v.collect().map(r => r.getString(0).trim).sorted.toSeq
      assert(forms == Seq("ab", "abab"),
        s"final vocab state wrong: $forms") // 'abab' fully merged
    } finally drainCaches()
  }

  test("driver-gated trainer == distributed trainer (merges + vocab)") {
    import spark.implicits._
    // hand corpus with merge chains, overlap runs and singletons, plus
    // the sf0.001 fixture — the gate must be invisible in the results
    val hand = Seq("abab abab abab", "ab ab", "aaaa a", "zq").toDF("text")
    val fixture = Ctx(spark, "/root/testdata/sf0.001").documents
    for (docs <- Seq(hand, fixture); k <- Seq(2, 24)) {
      try {
        val (mDrv, vDrv) = Bpe.trainWithVocab(spark, docs, k)
        spark.conf.set("spark.graft.bpe.trainCap", "0") // force distributed
        val (mDst, vDst) = Bpe.trainWithVocab(spark, docs, k)
        assert(mDrv == mDst, s"merge tables diverged at k=$k")
        val fDrv = vDrv.collect().map(r => (r.getString(0), r.getLong(1)))
          .sorted.toSeq
        val fDst = vDst.collect().map(r => (r.getString(0), r.getLong(1)))
          .sorted.toSeq
        assert(fDrv == fDst, s"final vocab states diverged at k=$k")
      } finally {
        spark.conf.unset("spark.graft.bpe.trainCap")
        drainCaches()
      }
    }
  }

  test("shipped constants ARE the sf0.01 trainer output (provenance)") {
    try {
      val ms = Bpe.train(spark,
        Ctx(spark, "/root/testdata/sf0.01").documents, 24)
      assert(ms == Bpe.ShippedMerges,
        "ShippedMerges drifted from the fixture trainer output")
    } finally drainCaches()
  }

  test("ShippedMerges256 IS the sf0.01 trainer output (provenance)") {
    try {
      val docs = Ctx(spark, "/root/testdata/sf0.01").documents
      val ms = Bpe.train(spark, Bpe.trainCorpus256(spark, docs), 256)
      // on a drift, print the trained table as the Scala literal
      def literal = ms.grouped(5).map(g => "    " + g.map { case (a, b) =>
        s"""("$a", "$b")""" }.mkString(", ") + ",").mkString("\n")
      assert(ms == Bpe.ShippedMerges256,
        s"ShippedMerges256 drifted from the fixture trainer output:\n$literal")
    } finally drainCaches()
  }

  test("driver-path trainWithVocab on sf0.01 submits 3 Spark jobs") {
    try {
      val docs = Ctx(spark, "/root/testdata/sf0.01").documents
      val (_, jobs) = SparkTestSession.jobsIn {
        Bpe.trainWithVocab(spark, docs, 24)
      }
      // one bounded vocabulary collect; under AQE its shuffle stages
      // are jobs too. A per-rank driver action would add ~24.
      assert(jobs == 3, s"one driver-path training ran $jobs Spark jobs")
    } finally drainCaches()
  }

  test("word-memoized path == whole-doc fixpoint path (both tables)") {
    import spark.implicits._
    // adversarial shapes: overlap runs, repeated words, mixed case,
    // non-ASCII separators, merge-chain words — plus the real fixture
    val hand = Seq("aaaa aaa aa a", "Hash hash HASH hash!",
      "batch scan join cur", "aéb kKc", "", "121 3")
    val fixture = Ctx(spark, "/root/testdata/sf0.001").documents
      .select("text").as[String].collect().toSeq
    for (merges <- Seq(Bpe.ShippedMerges, Bpe.ShippedMerges256);
         text <- hand ++ fixture) {
      val whole = Bpe.encode(text, merges)
      val wordSum = toks(Bpe.spacedDoc(text))
        .mkString("", "", "") // chars -> words boundary check below
      val _ = wordSum
      // doc-path token count
      val wantToks = toks(whole).size
      // word-path token count via encodeStats' exact flush alphabet
      var got = 0
      val wb = new StringBuilder
      def flush(): Unit = if (wb.nonEmpty) {
        got += toks(Bpe.encode(wb.toString, merges)).size
        wb.clear()
      }
      text.foreach { c0 =>
        val c = if (c0 >= 'A' && c0 <= 'Z') (c0 + 32).toChar else c0
        if (c >= 'a' && c <= 'z') wb.append(c) else flush()
      }
      flush()
      assert(got == wantToks,
        s"word/doc path diverged on '${text.take(40)}' (k=${merges.size})")
    }
  }

  test("xt15b stays scan-stage: no shuffle before the output sort") {
    val df = Bpe.encodeStats(spark, "/root/testdata/sf0.001",
      Bpe.ShippedMerges256)
    // the only permitted Exchange is Ctx.documents' ROUND-ROBIN
    // repartition (fan the single-row-group fixture across cores — a
    // no-op-sized narrow move at real file counts); any KEYED exchange
    // (hash/range) would mean the encode stopped being a per-row map
    val keyed = df.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("Exchange"))
      .filterNot(_.contains("RoundRobinPartitioning"))
      .toSeq
    assert(keyed.isEmpty,
      s"encodeStats plans a keyed shuffle at k=256:\n${keyed.mkString("\n")}")
  }

  test("ShippedMerges256: size, alphabet, effectiveness invariants") {
    assert(Bpe.ShippedMerges256.size == 256)
    assert(Bpe.ShippedMerges256.distinct.size == 256, "duplicate merge")
    assert(Bpe.ShippedMerges256.forall { case (a, b) =>
      (a + b).forall(c => c >= 'a' && c <= 'z') })
    // chain closure: every non-initial symbol used by a merge must be
    // PRODUCIBLE by an earlier rank (the structural invariant of any
    // real trainer output — a hand-typo'd pair would dangle)
    val producible = scala.collection.mutable.Set.empty[String]
    Bpe.ShippedMerges256.foreach { case (a, b) =>
      assert(a.length == 1 || producible.contains(a), s"dangling left $a")
      assert(b.length == 1 || producible.contains(b), s"dangling right $b")
      producible += (a + b)
    }
    // effectiveness on the eval corpus: the big table compresses at
    // least as well as the 24-merge one on every merge-chain word
    for (w <- Seq("customer", "filter", "stream", "window", "query"))
      assert(toks(Bpe.encode(w, Bpe.ShippedMerges256)).size <=
        toks(Bpe.encode(w, Bpe.ShippedMerges)).size)
  }

  test("encodeStats columns: conservation and zero-token docs") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bpedoc").toString
    Seq((1L, "spark joins", 11L), (2L, "1234 !!", 7L), (3L, "", 0L))
      .toDF("doc_id", "text", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val rows = Bpe.encodeStats(spark, tmp, Bpe.ShippedMerges)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getDouble(4))).toMap
    assert(rows(1L)._1 == 2 && rows(1L)._2 == 10) // 'sparkjoins' chars
    assert(rows(1L)._3 < rows(1L)._2, "merges must compress 'joins'")
    assert(rows(2L) == ((0, 0, 0, 0.0)), "no-alpha doc: all zeros")
    assert(rows(3L) == ((0, 0, 0, 0.0)), "empty doc: all zeros")
  }
}
