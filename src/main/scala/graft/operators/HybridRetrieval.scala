package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** xs8's PRODUCTION shape: reciprocal-rank fusion of the BM25 lexical
  * top-k (the max-score-pruned probe, Similarity.bm25TopK) with a
  * dense arm served from the persisted IVF index
  * ([[AnnIndex.probeBatch]]) instead of the brute-force
  * queries×corpus crossJoin the oracle-matched xs8 uses as its exact
  * baseline. At 100 TB the crossJoin arm is unrunnable; this form's
  * dense cost is NProbe/Cells of the corpus with the cell filter a
  * PARTITION filter (HybridRetrievalSpec asserts the executed scan
  * plans only the probed cells' files), and the fusion itself —
  * Similarity.rrfFuse, the SAME definition xs8 executes — stays
  * query-set-sized because both arms are bounded rank lists. The
  * index belongs to its caller: [[withCorpusIndex]] builds one per use
  * and deletes it afterwards, so no index outlives the query that
  * built it.
  *
  * Certification: xr8_hybrid_ann_recall measures the fused top-5
  * recall of this form against exact xs8 fusion and emits a
  * driver-hash-checked assertion row, so "the production hybrid still
  * retrieves what the exact one does" is externally gated, not a
  * spec-only claim.
  */
object HybridRetrieval {

  /** Loans `f` an IVF index over the CORPUS split of the embeddings
    * at `d` (vec_id % 20 != 0 — the xs8 population). Each call builds
    * the index into a fresh temp dir and deletes the dir in a finally,
    * so the index lives exactly as long as `f`: whatever reads it must
    * be materialized before `f` returns (xr8 runs its reap{} inside,
    * so the result is checkpointed first).
    */
  def withCorpusIndex[T](s: SparkSession, d: String)(f: String => T): T = {
    val root = java.nio.file.Files.createTempDirectory("hybrididx")
    try {
      val path = root.resolve("idx").toString
      AnnIndex.build(s,
        graft.queries.Ctx(s, d).embeddings.filter(col("vec_id") % 20 =!= 0),
        path)
      f(path)
    } finally
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
  }

  /** The fused top-`topN` per query document: lexical arm =
    * bm25TopK(k); dense arm = partition-pruned ANN probe of the
    * standing index (identical scoring, rounding, and tie rules to
    * xs8's brute-force arm — round-4 cosine desc, neighbor asc).
    * NOTE: callers wrap in reap{} (the lexical arm's tf persist is
    * own()'d into the caller's scope).
    */
  def rrfAnn(s: SparkSession, d: String, indexPath: String, k: Int = 10,
      nprobe: Int = 8, topN: Int = 5,
      lex: Option[DataFrame] = None): DataFrame = {
    val c = graft.queries.Ctx(s, d)
    // `lex` lets a caller that ALSO computes the exact fusion (xr8)
    // feed one persisted lexical arm to both — the arm is identical
    // in both forms by construction
    val lexTop = lex.getOrElse(
      graft.queries.Similarity.lexTopRanks(s, d, k))
    val q = c.embeddings.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    // probeBatch already emits exactly the per-query top-k under the
    // (score desc, neighbor asc) total order; re-derive the rank over
    // its ≤ k rows per query (query-set-sized window)
    val vecTop = AnnIndex.probeBatch(s, indexPath, q, k, nprobe)
      .withColumn("vec_rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("neighbor_id").asc)).cast("int"))
      .select(col("query_id").as("qid"), col("neighbor_id").as("doc_id"),
        col("vec_rank"))
    graft.queries.Similarity.rrfFuse(lexTop, vecTop, topN)
  }
}
