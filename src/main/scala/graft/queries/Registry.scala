package graft.queries

/** Single source of truth for the declared query inventory (SURVEY §2.B).
  * SparkEntry, Verify, and Bench all read from here.
  */
object Registry {
  def all: Seq[GQuery] =
    Scans.queries ++ Aggregates.queries ++ Joins.queries ++
      Windows.queries ++ SetOps.queries ++ Scalars.queries ++
      Reshape.queries ++
      EventOps.queries ++ Udx.queries ++ Llm.queries ++
      Dedup.queries ++ Similarity.queries ++ TextAnalysis.queries ++
      Bpe.queries ++
      Media.queries ++ Pipeline.queries ++ Clusters.queries ++
      Curation.queries ++ Sql.queries ++ Recall.queries

  def byName: Map[String, GQuery] = all.map(q => q.name -> q).toMap

  /** The unique prefix before the first '_' (q44, xv1): Bench's id. */
  def shortId(name: String): String = name.takeWhile(_ != '_')

  /** The queries a comma-separated focus list names (Bench's
    * SPARK_GRAFT_ONLY, Verify's third argument); no list selects all.
    * Each entry is a full name or a short id and must match a query, so
    * a typo next to a valid entry fails instead of selecting a subset.
    */
  def select(only: Option[String]): Seq[GQuery] = only.fold(all) { list =>
    val entries = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
    def hit(e: String, q: GQuery) = q.name == e || shortId(q.name) == e
    val unmatched = entries.filterNot(e => all.exists(hit(e, _)))
    require(entries.nonEmpty && unmatched.isEmpty,
      s"focus list '$list' has entries that match no query: " +
        unmatched.toSeq.sorted.mkString(","))
    all.filter(q => entries.exists(hit(_, q)))
  }
}
