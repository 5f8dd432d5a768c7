package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Det._

/** Dedup clustering — the step AFTER pair generation that an actual
  * dedup pipeline needs: near-dup pairs only say "a ~ b"; deduping the
  * corpus requires the transitive closure (connected components), one
  * canonical representative per component, and a keep/drop decision
  * per document.
  *
  * Components via min-label propagation, the standard shuffle-bounded
  * Spark shape (GraphX's CC without the RDD detour):
  *
  *   l(x) <- min(l(x), min_{y ~ x} l(y))   until fixpoint
  *
  * Each round is one equi-join (labels onto directed edges) + one
  * min-aggregate — both shuffle on node id, both partial-aggregated
  * map-side. Rounds needed = component diameter, which for near-dup
  * clusters (quasi-cliques around a template) is 1-3; a hard cap with
  * a convergence assertion guards pathological chains. Per round the
  * label frame is localCheckpoint'ed: the plan would otherwise nest
  * one join deeper per round and codegen/optimizer cost would grow
  * with iteration count rather than data size (at production scale
  * use a checkpoint dir instead of executor-local blocks).
  *
  * The oracle reproduces the closure with a recursive CTE (DuckDB
  * propagates labels along edges to saturation, then min per node) —
  * so the whole pairs -> components -> representative pipeline is
  * hash-checked, not just the pair stage.
  */
object Clusters {

  private val MaxRounds = 20

  /** init: (doc_id, rep_id) seed labels. rep_id values MUST be node
    * ids from the same id space as doc_id (normally each node's own
    * id) — labels act as pointers for the doubling shortcut, so a
    * label from a foreign space (xd5's min member doc over gid nodes)
    * must be translated AFTER the fixpoint, not seeded in. edges:
    * undirected (doc_a, doc_b) pairs over the same node space.
    * Returns (doc_id, rep_id) at fixpoint: rep_id = min node id
    * reachable.
    */
  /** Union-find with path compression over collected edge pairs —
    * the shared driver kernel of both broadcast-gated fast paths.
    * Returns (node, component-min) for every edge endpoint.
    */
  private def unionFind(es: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = es.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
    nodes.iterator.map(x => (x, find(x))).toSeq
  }

  /** Try the RAW-EDGE driver fast path: ONE limit-collect, bounded by
    * the session broadcast gate, both decides feasibility and fetches
    * the edges (limit(cap+1) returning ≤ cap rows proves the whole
    * edge set fits — the same bytes we would happily broadcast). On a
    * small graph this replaces the star contraction's four
    * materialization jobs AND the count-then-collect pair with a
    * single action; past the cap it returns None having fetched at
    * most cap rows. Labels cover edge ENDPOINTS only — callers
    * handle isolated nodes (compose join / left-join coalesce).
    */
  private def collectedLabels(eps: DataFrame): Option[Seq[(Long, Long)]] = {
    val bcThreshold = eps.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val cap = if (bcThreshold > 0) math.min(bcThreshold / 32L, 4000000L).toInt else 0
    if (cap <= 0) return None
    val head = eps.limit(cap + 1).collect()
    if (head.length > cap) None
    else Some(unionFind(head.map(r => (r.getLong(0), r.getLong(1)))))
  }

  /** Component labels for every EDGE ENDPOINT of `edges` — the form
    * for callers that left-join the labels back and coalesce
    * singletons to themselves (xd8): on the gated path the WHOLE
    * closure is one limit-collect + a local-relation result, no
    * endpoint distinct, no compose join. Falls back to the full
    * `components` machinery past the gate.
    */
  private[queries] def componentsOfEdges(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    val eps = edges.select(col("doc_a"), col("doc_b"))
    collectedLabels(eps) match {
      case Some(rows) =>
        import s.implicits._
        rows.toDF("doc_id", "rep_id")
      case None =>
        val endpoints = eps.select(col("doc_a").as("doc_id"))
          .unionByName(eps.select(col("doc_b").as("doc_id"))).distinct()
        components(endpoints.select(col("doc_id"),
          col("doc_id").as("rep_id")), eps)
    }
  }

  private[queries] def components(init: DataFrame, edges: DataFrame): DataFrame = {
    val s = init.sparkSession
    val bcThreshold = s.sessionState.conf.autoBroadcastJoinThreshold
    def maybeBc(df: DataFrame, rows: Long): DataFrame =
      if (bcThreshold > 0 && rows * 32L <= bcThreshold) broadcast(df) else df

    // Both edge directions in ONE pass over the edge generator (an
    // explode fan-out, not a self-union): the r15 shape read the
    // persisted eps twice — and on the first materialization the two
    // union branches were independent stages racing to compute the
    // same (BNLJ-quadratic for xd5) generator partitions. One scan,
    // one cached frame, two consumers (the contraction aggregate and
    // the class-edge remap).
    // NOTE (measured r13, not kept): pre-partitioning dir by src to
    // let the per-round join elide its exchange read 8.0 s vs 4.6 s —
    // AQE's coalesced exchanges beat the pinned layout here.
    val dir = edges
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist()

    // STAR CONTRACTION — one aggregation pass before any iteration:
    // m(x) = min(x, x's neighbors). Near-dup graphs are overwhelmingly
    // quasi-cliques (a template and its variants all pairwise-similar),
    // and one min-pass collapses a clique onto its min node, so the
    // ITERATED graph holds only the contracted class graph — orders of
    // magnitude smaller than the raw edge set (sf0.1: 698k edges ->
    // ~1k contracted edges). Correctness: m(x) is x or a neighbor, so
    // contraction classes sit inside components; an original edge
    // (a, b) survives as (m(a), m(b)) unless both collapsed to the
    // same class, so contracted connectivity equals original
    // connectivity; and a component's global min c has m(c) = c, so
    // it IS a contracted node and the contracted fixpoint minimum is
    // the original component minimum.
    // This is the FIRST action of the closure (r16: the r15 chain ran
    // a separate eps.count gate job first — 4 driver actions for the
    // gated path; now 2). The count rides the checkpoint's own
    // materialization job as an observed metric — no second pass.
    val mObs = org.apache.spark.sql.Observation()
    val m = dir.groupBy("src")
      .agg(min(col("dst")).as("mn"))
      .select(col("src").as("x"), least(col("src"), col("mn")).as("mx"))
      .observe(mObs, count(lit(1)).as("n"))
      .localCheckpoint(true) // 3 consumers: both edge remaps + compose
    val mCnt = mObs.get("n").asInstanceOf[Long]
    val mB = maybeBc(m, mCnt)
    val cdir = dir
      .join(mB.select(col("x").as("src"), col("mx").as("csrc")), "src")
      .join(mB.select(col("x").as("dst"), col("mx").as("cdst")), "dst")
      .select(col("csrc").as("src"), col("cdst").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

    // The contracted class graph is usually TINY (near-dup components
    // are quasi-cliques, so most of the edge volume collapses in the
    // contraction). While it fits the session broadcast threshold —
    // the SAME gate under which we would happily ship these bytes to
    // every executor as a broadcast side — finish the closure with a
    // driver union-find: one bounded limit-collect of the class edges
    // (the SECOND and last internal action) both proves the gate and
    // fetches the rows, replacing the r15 persist + count + collect
    // pair. Past the cap the distributed loop runs unchanged over a
    // checkpointed cdir — a 100 TB near-dup graph whose CONTRACTED
    // form is still huge degrades to iteration (paying one bounded
    // re-derivation of cdir from the cached dir + checkpointed m),
    // never to a driver OOM.
    val cap =
      if (bcThreshold > 0) math.min(bcThreshold / 32L, 4000000L).toInt else 0
    val head =
      if (cap > 0) cdir.limit(cap + 1).collect()
      else Array.empty[org.apache.spark.sql.Row]
    val (lbl: DataFrame, cdirCnt: Long) =
      if (cap > 0 && head.length <= cap) {
        val rows = unionFind(head.map(r => (r.getLong(0), r.getLong(1))))
        import s.implicits._
        (rows.toDF("doc_id", "rep_id"), head.length.toLong)
      } else {
        val cObs = org.apache.spark.sql.Observation()
        val cchk = cdir.observe(cObs, count(lit(1)).as("n")).localCheckpoint(true)
        val cnt = cObs.get("n").asInstanceOf[Long]
        (distributedFixpoint(cchk, m, mCnt, maybeBc), cnt)
      }
    dir.unpersist()
    // compose back to the full node space: x's component is its
    // contraction class's component. A class rep with no contracted
    // edges is its own component's minimum (the whole component
    // collapsed into it), so members fall back to mx; nodes outside
    // the edge set keep their seed label. Broadcast-gated joins over
    // init.
    val classLbl = lbl.select(col("doc_id").as("mx"), col("rep_id").as("crep"))
    init.select(col("doc_id"), col("rep_id").as("seed"))
      .join(mB.select(col("x").as("doc_id"), col("mx")), Seq("doc_id"), "left")
      .join(maybeBc(classLbl, cdirCnt * 2), Seq("mx"), "left")
      .select(col("doc_id"),
        coalesce(col("crep"), col("mx"), col("seed")).as("rep_id"))
  }

  /** Distributed min-label fixpoint over the contracted class graph —
    * the over-threshold path of `components`. One class-edge join job
    * plus one class-space doubling hop per round; convergence checksum
    * rides the round's own materialization as an observed metric.
    */
  private def distributedFixpoint(cdir: DataFrame, m: DataFrame,
      mCnt: Long, maybeBc: (DataFrame, Long) => DataFrame): DataFrame = {
    def chk(df: DataFrame): (DataFrame, org.apache.spark.sql.Observation) = {
      val obs = org.apache.spark.sql.Observation()
      (df.observe(obs,
        sum(col("rep_id").cast("decimal(38,0)")).as("chk"),
        count(lit(1)).as("n"))
        .localCheckpoint(true), obs)
    }
    def chkVal(obs: org.apache.spark.sql.Observation): java.math.BigDecimal =
      obs.get("chk").asInstanceOf[java.math.BigDecimal]
    // iterate over the contracted class graph only; class reps seed
    // with their own ids (labels are pointers — see contract above)
    val (lbl0, obs0) = chk(m.select(col("mx").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("rep_id")))
    var lbl = lbl0
    var prev = chkVal(obs0)
    // The checkpointed label frame is a LogicalRDD with UNKNOWN stats,
    // so the planner would sort-merge the edge join and re-shuffle the
    // (edge-sized) cdir table EVERY round. The label table is class-
    // space-sized — observed row count rides the same checkpoint job —
    // so while it fits the session broadcast threshold, hint it and
    // each round becomes one map-side pass over the cached cdir
    // partitions plus a partial-agged min shuffle. Past the threshold
    // the hint is withheld and the round degrades to the shuffled
    // join, not an OOM.
    var nNodes = obs0.get("n").asInstanceOf[Long]
    var round = 0
    var converged = mCnt == 0 // no edges at all: nothing to iterate
    while (!converged && round < MaxRounds) {
      val prop = cdir.join(maybeBc(lbl, nNodes), col("src") === col("doc_id"))
        .select(col("dst").as("doc_id"), col("rep_id"))
      // the round's main job: class-edge join + min-fold, materialized
      // so the doubling hop below reads 2× class-space rows, not 2×
      // re-executions of this whole subplan
      val folded = lbl.unionByName(prop)
        .groupBy("doc_id")
        .agg(min(col("rep_id")).as("rep_id"))
        .localCheckpoint(true)
      // Pointer doubling: additionally adopt the label OF my label
      // (labels are node ids), so a length-d chain of classes
      // collapses in O(log d) rounds instead of d. The hop join runs
      // on the materialized label table — class-space-sized, a
      // trivial second job — and preserves the invariant that l(x)
      // names a node in x's component; the neighbor-min fixpoint
      // condition is unchanged, so the fixpoint is still the
      // component minimum (ClustersSpec's union-find equality).
      // Convergence is checked on the POST-hop labels: a round where
      // only the hop moved labels must not read as converged, since
      // unfinished pointer chains can remain.
      val hop = folded.join(
        folded.select(col("doc_id").as("rep_id"), col("rep_id").as("rep2")),
        Seq("rep_id"), "left")
        .select(col("doc_id"),
          least(col("rep_id"), coalesce(col("rep2"), col("rep_id"))).as("rep_id"))
      val (next, obs) = chk(hop)
      val cur = chkVal(obs)
      nNodes = obs.get("n").asInstanceOf[Long]
      lbl.unpersist()
      folded.unpersist()
      lbl = next
      converged = cur.compareTo(prev) == 0
      prev = cur
      round += 1
    }
    assert(converged, s"label propagation did not converge in $MaxRounds rounds")
    lbl
  }

  /** Near-dup clusters over token-set Jaccard >= 0.8 pairs: every doc
    * with its canonical representative (min doc_id of its component),
    * component size, and the keep/drop decision a dedup pass would
    * apply.
    *
    * The propagation runs in the COMPRESSED node space of distinct
    * token-set groups (identical sets are J=1 neighbors by definition,
    * so a group is always wholly inside one component): nodes = groups
    * seeded with their min member doc_id, edges = exact group-level
    * J >= 0.8 (vocabulary-gated — popcount masks when |vocab| <= 64,
    * token co-occurrence otherwise). Member doc-ids rejoin only after
    * the fixpoint, so the iteration never touches per-document rows —
    * on dup-heavy corpora that is the difference between iterating
    * over |distinct sets| and |corpus|.
    */
  val xd5 = GQuery(
    "xd5_dedup_clusters",
    (s, d) => reap {
      val c = Ctx(s, d)
      val groups = Dedup.setGroups(c.documents)
      val edges = Dedup.groupEdgesGated(groups, 0.8)
        .select(col("gid_a").as("doc_a"), col("gid_b").as("doc_b"))
      // propagate in pure gid space (labels must be node ids for the
      // doubling shortcut), then translate each component's rep gid to
      // its min member DOC id — two group-space-sized hops after the
      // fixpoint instead of doc-space seeds inside it
      val init = groups.select(col("gid").as("doc_id"), col("gid").as("rep_id"))
      val lblG = components(init, edges)
        .select(col("doc_id").as("gid"), col("rep_id").as("rep_gid"))
      val seed = groups.select(col("gid"),
        expr("ids[0]").as("seed_doc")) // ids sorted: [0] is the min member
      val withSeed = lblG.join(Scale.maybeBroadcast(seed), "gid")
      val repDoc = withSeed.groupBy("rep_gid")
        .agg(min(col("seed_doc")).as("rep_id"))
      val lbl = withSeed.join(Scale.maybeBroadcast(repDoc), "rep_gid")
        .select(col("gid"), col("rep_id"))
      val byDoc = groups.select(col("gid"), explode(col("ids")).as("doc_id"))
        .join(Scale.maybeBroadcast(lbl), "gid")
      val sizes = byDoc.groupBy("rep_id").agg(count(lit(1)).as("cluster_size"))
      canon(byDoc.join(Scale.maybeBroadcast(sizes), "rep_id")
        .select(col("doc_id"), col("rep_id"), col("cluster_size"),
          (col("doc_id") === col("rep_id")).as("keep")))
    },
    Some(
      // NOTE: the recursive closure is quadratic in component size and
      // DuckDB 1.0 has no keyed recursion — fine at the sf0.01
      // correctness gate, hopeless at sf0.1 (tools/duckbench.py skips
      // it; the Spark side converges in diameter rounds regardless).
      """WITH RECURSIVE tok AS (
        |  SELECT DISTINCT doc_id, t.token FROM documents,
        |    UNNEST(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS t(token)),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY 1),
        |pr AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
        |  FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |edge AS (
        |  SELECT da, db FROM pr JOIN sz sa ON pr.da = sa.doc_id JOIN sz sb ON pr.db = sb.doc_id
        |  WHERE inter / (sa.sz + sb.sz - inter) >= 0.8),
        |dir AS (SELECT da AS src, db AS dst FROM edge
        |        UNION ALL SELECT db, da FROM edge),
        |walk AS (
        |  SELECT doc_id, doc_id AS lbl FROM documents
        |  UNION
        |  SELECT dir.dst AS doc_id, walk.lbl
        |  FROM walk JOIN dir ON dir.src = walk.doc_id),
        |comp AS (SELECT doc_id, MIN(lbl) AS rep_id FROM walk GROUP BY doc_id),
        |sizes AS (SELECT rep_id, COUNT(*) AS cluster_size FROM comp GROUP BY rep_id)
        |SELECT c.doc_id AS doc_id, c.rep_id AS rep_id,
        |  s.cluster_size AS cluster_size, c.doc_id = c.rep_id AS keep
        |FROM comp c JOIN sizes s ON c.rep_id = s.rep_id""".stripMargin +
        orderAll("doc_id")))

  /** Semantic dedup clusters — xd5's shape for the EMBEDDING space:
    * connected components over xd7's IVF-blocked cos ≥ 0.45 pairs,
    * one representative (min vec_id) per component, keep/drop per
    * vector. Completes the embedding-dedup pipeline the way xd5
    * completes the token-set one: pairs alone don't dedup a corpus —
    * the transitive closure does. Same min-label propagation, same
    * convergence guard; edges come from the blocked candidate path,
    * so the whole pipeline (cells → co-probe pairs → exact verify →
    * closure) is the shape that runs at 100 TB. ⊘ rows-only:
    * ClustersSpec proves it equal to the closure over xd4's exact
    * all-pairs edges (xd7's measured recall is 1.0 on this corpus).
    */
  val xd8 = GQuery(
    "xd8_semantic_clusters",
    (s, d) => reap {
      val c = Ctx(s, d)
      // propagate only over the CONNECTED subgraph (edge endpoints):
      // singletons — the overwhelming majority of a deduped corpus —
      // never enter the iteration and rejoin as their own reps after
      // the fixpoint. At 100 TB the iterated frame is sized by the
      // near-dup population, not the corpus.
      val pairs = own(Similarity.ivfPairs(s, d, 0.45)
        .select("doc_a", "doc_b").persist())
      val lbl = componentsOfEdges(pairs)
        .select(col("doc_id").as("vec_id"), col("rep_id"))
      val all = c.embeddings.select(col("vec_id"))
        .join(Scale.maybeBroadcast(lbl), Seq("vec_id"), "left")
        .select(col("vec_id").as("doc_id"),
          coalesce(col("rep_id"), col("vec_id")).as("rep_id"))
      val sizes = all.groupBy("rep_id").agg(count(lit(1)).as("cluster_size"))
      canon(all.join(Scale.maybeBroadcast(sizes), "rep_id")
        .select(col("doc_id"), col("rep_id"), col("cluster_size"),
          (col("doc_id") === col("rep_id")).as("keep")))
    },
    None)

  def queries: Seq[GQuery] = Seq(xd5, xd8)
}
