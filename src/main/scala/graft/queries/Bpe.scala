package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Det._

/** Byte-pair encoding for the text pipeline — the tokenizer a
  * pretraining corpus actually ships with (Sennrich, Haddow & Birch
  * 2016, "Neural Machine Translation of Rare Words with Subword
  * Units"): learn the k most frequent adjacent-symbol merges from the
  * corpus, then encode any text by applying them in rank order.
  *
  * MERGE-APPLICATION SEMANTICS (binding for both engines): a word is
  * its space-separated symbol string with flanking spaces
  * (" h e l l o "); merge rank r with pair (a, b) rewrites
  * " a b " -> " ab " via literal REPLACE-ALL, repeated until fixpoint,
  * before rank r+1 runs. The flanking spaces in the pattern make a
  * match start and end at symbol boundaries (token "ba" next to "b"
  * can never satisfy pattern " a b "), and the fixpoint pass closes
  * the overlap-run case one replace-all misses (" a a a a " needs two
  * passes to become " aa aa "). Replace-all is leftmost,
  * non-overlapping, identical in the JVM and DuckDB — which is what
  * makes the ENCODER oracle-matchable: DuckDB replays the exact
  * fixpoint with a recursive CTE. Rank-ascending single application is
  * complete: a merge at rank r only creates adjacencies involving its
  * OUTPUT symbol, and every pair involving that symbol was learned
  * after rank r, so no earlier rank can become applicable again.
  *
  * Scale shape: training aggregates the corpus ONCE into the
  * (word, count) vocabulary table — everything after is
  * vocabulary-sized (pair counting, merge application, the per-rank
  * argmax that reaches the driver is ONE row). Encoding is a
  * scan-stage map with the merge table a closure constant (broadcast
  * with the task), no shuffle until the output sort.
  */
object Bpe {

  /** The SHIPPED merge table for the oracle-matched encoder (xt15):
    * learned once from the sf0.01 documents fixture with [[train]]'s
    * exact semantics (k = 24, count desc / pair lex asc tie-break) and
    * pinned as constants — a production tokenizer is trained once and
    * shipped to every job, never re-learned per run. BpeSpec re-derives
    * this table from the fixture to prove the constants ARE the
    * trainer's output.
    */
  val ShippedMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"), ("a", "s"), ("as", "h"), ("h", "ash"),
    ("r", "ow"), ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
    ("c", "an"), ("s", "can"), ("c", "o"), ("c", "u"))

  /** The production-sized merge table for xt15b: 256 merges, learned
    * once with the SAME trainer from [[trainCorpus256]] over the sf0.01
    * documents fixture and pinned; BpeSpec re-trains it to prove the
    * constants ARE that output. The eval corpus's 31-word vocabulary
    * saturates plain training at 99 merges (every word fully merged),
    * so — exactly like a production tokenizer, which is trained on a
    * far larger corpus than any batch it encodes — the training corpus
    * adds each document's adjacent-word concatenations (deterministic,
    * no RNG). Encoding the eval corpus under the bigger table is the
    * realistic shape: late-rank merges mostly never fire on a given
    * batch, but every rank still costs a fixpoint replace pass, and
    * the xt15b oracle replays all 256 of them.
    */
  val ShippedMerges256: Seq[(String, String)] = Seq(
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("a", "t"), ("m", "er"), ("a", "l"), ("a", "r"), ("p", "ar"),
    ("a", "s"), ("e", "c"), ("e", "a"), ("j", "o"), ("jo", "in"),
    ("l", "t"), ("a", "b"), ("as", "h"), ("h", "ash"), ("a", "n"),
    ("c", "an"), ("at", "c"), ("atc", "h"), ("f", "i"), ("fi", "lt"),
    ("filt", "er"), ("l", "u"), ("lu", "m"), ("lum", "n"), ("o", "lumn"),
    ("o", "mer"), ("st", "omer"), ("u", "stomer"), ("t", "or"), ("m", "al"),
    ("g", "g"), ("l", "ow"), ("mer", "g"), ("s", "can"), ("b", "atch"),
    ("ec", "tor"), ("v", "ector"), ("d", "er"), ("s", "mal"), ("ab", "l"),
    ("d", "at"), ("st", "r"), ("al", "u"), ("v", "alu"), ("or", "der"),
    ("e", "y"), ("k", "ey"), ("s", "low"), ("u", "p"), ("l", "in"),
    ("smal", "l"), ("ea", "m"), ("str", "eam"), ("d", "ow"), ("in", "dow"),
    ("w", "indow"), ("par", "k"), ("g", "r"), ("t", "abl"), ("o", "up"),
    ("c", "olumn"), ("c", "ustomer"), ("er", "y"), ("q", "u"), ("qu", "ery"),
    ("par", "t"), ("or", "t"), ("gr", "oup"), ("s", "park"), ("merg", "e"),
    ("b", "i"), ("a", "gg"), ("f", "a"), ("r", "ow"), ("fa", "st"),
    ("s", "ort"), ("valu", "e"), ("bi", "g"), ("lin", "e"), ("tabl", "e"),
    ("t", "h"), ("dat", "a"), ("th", "e"), ("ec", "olumn"), ("ec", "ustomer"),
    ("dat", "as"), ("er", "ow"), ("ea", "gg"), ("abl", "e"), ("h", "e"),
    ("at", "able"), ("ar", "ow"), ("at", "he"), ("dat", "ab"), ("smal", "lt"),
    ("i", "g"), ("mal", "l"), ("d", "up"), ("tor", "der"), ("al", "in"),
    ("alin", "e"), ("table", "hash"), ("part", "filter"), ("customer", "join"), ("merge", "group"),
    ("slow", "key"), ("vector", "small"), ("big", "order"), ("filter", "hash"), ("filter", "small"),
    ("merge", "order"), ("row", "a"), ("sort", "a"), ("batch", "agg"), ("row", "customer"),
    ("slow", "query"), ("slow", "small"), ("table", "merge"), ("agg", "table"), ("batch", "scan"),
    ("column", "big"), ("customer", "vector"), ("lin", "ecustomer"), ("query", "join"), ("value", "table"),
    ("data", "customer"), ("filter", "query"), ("filter", "scan"), ("join", "key"), ("join", "row"),
    ("merg", "ecolumn"), ("merg", "ecustomer"), ("merge", "hash"), ("part", "column"), ("part", "stream"),
    ("query", "merge"), ("scan", "customer"), ("scan", "table"), ("spark", "big"), ("as", "low"),
    ("column", "line"), ("filter", "merge"), ("filter", "row"), ("hash", "vector"), ("join", "vector"),
    ("key", "filter"), ("small", "join"), ("small", "stream"), ("small", "vector"), ("sort", "slow"),
    ("spark", "line"), ("table", "line"), ("value", "query"), ("window", "customer"), ("window", "table"),
    ("agg", "value"), ("batch", "row"), ("batch", "stream"), ("fast", "hash"), ("hash", "stream"),
    ("join", "data"), ("join", "group"), ("key", "line"), ("key", "order"), ("line", "line"),
    ("scan", "part"), ("small", "small"), ("sort", "data"), ("tabl", "ecolumn"), ("table", "key"),
    ("vector", "a"), ("vector", "vector"), ("column", "merge"), ("customer", "slow"), ("data", "join"),
    ("datas", "low"), ("fast", "customer"), ("hash", "agg"), ("line", "data"), ("line", "filter"),
    ("order", "value"), ("part", "merge"), ("row", "window"), ("scan", "order"), ("slow", "agg"),
    ("slow", "data"), ("slow", "hash"), ("slow", "table"), ("small", "filter"), ("sort", "sort"),
    ("spark", "batch"), ("table", "join"), ("the", "batch"), ("column", "data"), ("column", "key"),
    ("customer", "part"), ("customer", "small"), ("dat", "arow"), ("data", "data"), ("filter", "value"),
    ("group", "group"), ("hash", "customer"), ("join", "batch"), ("join", "window"), ("key", "big"),
    ("line", "key"), ("line", "slow"), ("order", "big"), ("order", "column"), ("order", "small"),
    ("query", "column"), ("query", "row"), ("row", "column"), ("row", "merge"), ("scan", "vector"),
    ("slow", "sort"), ("spark", "join"), ("stream", "order"), ("stream", "part"), ("vector", "spark"),
    ("window", "filter"), ("a", "vector"), ("agg", "batch"), ("agg", "line"), ("agg", "stream"),
    ("batch", "data"), ("big", "join"), ("data", "fast"), ("fast", "spark"), ("filter", "data"),
    ("group", "stream"), ("hash", "batch"), ("hash", "hash"), ("hash", "the"), ("hash", "window"),
    ("order", "data"), ("part", "table"), ("query", "key"), ("row", "value"), ("slow", "batch"),
    ("small", "customer"), ("spark", "hash"), ("stream", "value"), ("table", "part"), ("table", "value"),
    ("the", "the"), ("valu", "eagg"), ("value", "slow"), ("vector", "join"), ("window", "hash"),
    ("window", "sort"))

  /** The training corpus of [[ShippedMerges256]]: the `text` of `docs`
    * plus, per document, one text of its adjacent-word concatenations
    * ("spark joins scan" also contributes "sparkjoins joinsscan").
    */
  private[graft] def trainCorpus256(s: SparkSession,
      docs: DataFrame): DataFrame = {
    graft.functions.TextOps.register(s)
    val joined = docs.select(concat_ws(" ", expr(
      """transform(sequence(1, greatest(size(tokenize(text)) - 1, 0)),
        |  i -> concat(tokenize(text)[i - 1], tokenize(text)[i]))""".stripMargin))
      .as("text"))
    docs.select(col("text")).unionByName(joined)
  }

  /** Lower + word-split + char-space a whole document into ONE spaced
    * string: word separators become runs of >= 3 spaces (so a merge
    * pattern's single interior space can never match across words),
    * every in-word symbol boundary exactly one space.
    */
  private[queries] def spacedDoc(text: String): String = {
    val sb = new java.lang.StringBuilder(text.length * 2 + 2)
    sb.append(' ')
    var prevAlpha = false
    var i = 0
    while (i < text.length) {
      // arithmetic A-Z lowering with every char >= 0x80 a separator —
      // the EXACT alphabet rule of functions.Tokenize / Llm.tokens, so
      // the trainer/encoder tie (xr16) holds on any input. NOTE the
      // DuckDB oracle (lower(text) + [^a-z]) is tied only on inputs
      // where Unicode lowering agrees with A-Z arithmetic: utf8proc
      // maps e.g. U+212A (Kelvin) to 'k' and U+0130 to a two-char
      // sequence, both diverging from this byte rule. Fixtures are
      // ASCII, where the two rules coincide exactly.
      val c0 = text.charAt(i)
      val c = if (c0 >= 'A' && c0 <= 'Z') (c0 + 32).toChar else c0
      if (c >= 'a' && c <= 'z') {
        sb.append(c).append(' ')
        prevAlpha = true
      } else if (prevAlpha) {
        sb.append("  ") // word gap: with the symbol's own trailing
        prevAlpha = false // space this is >= 3 spaces between words
      }
      i += 1
    }
    sb.toString
  }

  /** Apply one merge to fixpoint — the binding replace-all loop. */
  private[queries] def applyMerge(s: String, a: String, b: String): String = {
    val pat = " " + a + " " + b + " "
    val rep = " " + a + b + " "
    var cur = s
    var next = cur.replace(pat, rep)
    while (next != cur) {
      cur = next
      next = cur.replace(pat, rep)
    }
    cur
  }

  /** Encode one document under a merge table; returns the final spaced
    * string (symbols = its space-separated runs).
    */
  private[queries] def encode(text: String,
      merges: Seq[(String, String)]): String = {
    var s = spacedDoc(text)
    merges.foreach { case (a, b) => s = applyMerge(s, a, b) }
    s
  }

  private def countRuns(s: String): Int = {
    var n = 0; var in = false; var i = 0
    while (i < s.length) {
      val sp = s.charAt(i) == ' '
      if (!sp && !in) n += 1
      in = !sp
      i += 1
    }
    n
  }

  final case class BpeStats(doc_id: Long, n_words: Int, n_chars: Int,
      n_bpe_tokens: Int, compression: Double)

  /** Token count of ONE word under the merge table — the same
    * String.replace fixpoint as [[encode]], but scoped to the word.
    * Equivalent by construction: a merge pattern needs a single
    * interior space on each side, and [[spacedDoc]] separates words
    * by >= 3 spaces, so no merge ever crosses a word boundary —
    * per-word application IS the whole-doc application (pinned
    * empirically by BpeSpec's word-path/doc-path equality test).
    */
  private def wordTokens(word: String, merges: Seq[(String, String)]): Int = {
    val sb = new java.lang.StringBuilder(word.length * 2 + 2)
    sb.append(' ')
    var i = 0
    while (i < word.length) { sb.append(word.charAt(i)).append(' '); i += 1 }
    var s = sb.toString
    merges.foreach { case (a, b) => s = applyMerge(s, a, b) }
    countRuns(s)
  }

  /** Per-doc encode stats over the corpus — the scan-stage map.
    *
    * Production-vocabulary scale path: the naive whole-doc form runs
    * |merges| replace-all passes over each document's full spaced
    * string (k=256 on sf0.1 ≈ 15M multi-KB scans); instead the doc is
    * split into words once and each DISTINCT word is encoded once per
    * partition through a bounded memo — the Zipfian reuse that makes
    * every production BPE encoder cache word encodings. Stays a
    * mapPartitions over the scan (no shuffle before the output sort).
    */
  def encodeStats(s: SparkSession, d: String,
      merges: Seq[(String, String)]): DataFrame = {
    import s.implicits._
    Ctx(s, d).documents.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val cache = new java.util.HashMap[String, Integer]()
        it.map { case (id, text) =>
          var nChars = 0; var nWords = 0; var nTok = 0
          val wb = new java.lang.StringBuilder
          def flush(): Unit = if (wb.length > 0) {
            nWords += 1
            nChars += wb.length
            val w = wb.toString
            var t = cache.get(w)
            if (t == null) {
              t = Integer.valueOf(wordTokens(w, merges))
              if (cache.size < (1 << 20)) cache.put(w, t)
            }
            nTok += t.intValue()
            wb.setLength(0)
          }
          var i = 0
          while (i < text.length) {
            // the spacedDoc alphabet rule: arithmetic A-Z lowering,
            // everything else (incl. >= 0x80) a separator
            val c0 = text.charAt(i)
            val c = if (c0 >= 'A' && c0 <= 'Z') (c0 + 32).toChar else c0
            if (c >= 'a' && c <= 'z') wb.append(c) else flush()
            i += 1
          }
          flush()
          val ratio = if (nTok == 0) 0.0
            else math.floor(nChars.toDouble / nTok * 1e4 + 0.5) / 1e4
          BpeStats(id, nWords, nChars, nTok, ratio)
        }
      }.toDF()
  }

  /** xt15: BPE encoding under the shipped merge table, oracle-matched
    * END TO END: the DuckDB oracle replays the exact
    * fixpoint-replace-per-rank semantics with a recursive CTE over
    * (doc, spaced string, rank) — one step either applies one
    * replace-all pass or advances the rank, and the final row per doc
    * is its fully encoded form. The VALUES merge table in the SQL is
    * GENERATED from [[ShippedMerges]], so the two engines cannot
    * drift. A single wrong replacement anywhere — boundary handling,
    * overlap runs, rank order — changes a token count and fails the
    * hash.
    */
  val xt15 = GQuery(
    "xt15_bpe_encode",
    (s, d) => canonBy(encodeStats(s, d, ShippedMerges), "doc_id"),
    Some(oracleFor(ShippedMerges)))

  /** xt15b: the SAME oracle-replayed encode under the production-sized
    * 256-merge table [[ShippedMerges256]] — proving the fixpoint
    * encoder (word-memoized scan-stage path) doesn't drift or degrade
    * at a realistic vocabulary: the DuckDB replay recurses through all
    * 256 ranks and the hash must still match bit-for-bit.
    */
  val xt15b = GQuery(
    "xt15b_bpe_encode256",
    (s, d) => canonBy(encodeStats(s, d, ShippedMerges256), "doc_id"),
    Some(oracleFor(ShippedMerges256)))

  /** The recursive-CTE oracle replaying the exact rank-order
    * fixpoint-replace semantics for ANY merge table — the VALUES rows
    * are generated from the Scala constant so the engines cannot
    * drift.
    */
  private def oracleFor(merges: Seq[(String, String)]): String = {
      val k = merges.size
      val values = merges.zipWithIndex.map { case ((a, b), i) =>
        s"(${i + 1}, ' $a $b ', ' $a$b ')"
      }.mkString(", ")
      s"""WITH RECURSIVE m(rank, pat, rep) AS (VALUES $values),
        |d AS (
        |  SELECT doc_id,
        |    ' ' || regexp_replace(regexp_replace(lower(text), '[^a-z]+', '  ', 'g'),
        |                          '([a-z])', '\\1 ', 'g') AS s
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, s, 1 AS rank FROM d
        |  UNION ALL
        |  SELECT r.doc_id,
        |    CASE WHEN replace(r.s, m.pat, m.rep) <> r.s
        |         THEN replace(r.s, m.pat, m.rep) ELSE r.s END,
        |    CASE WHEN replace(r.s, m.pat, m.rep) <> r.s
        |         THEN r.rank ELSE r.rank + 1 END
        |  FROM r JOIN m ON m.rank = r.rank
        |  WHERE r.rank <= $k),
        |f AS (SELECT doc_id, s FROM r WHERE rank = $k + 1),
        |base AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS INTEGER) AS n_words,
        |    CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS INTEGER) AS n_chars
        |  FROM documents)
        |SELECT doc_id, n_words, n_chars,
        |  CAST(len(list_filter(string_split_regex(f.s, ' +'), x -> x <> '')) AS INTEGER) AS n_bpe_tokens,
        |  CASE WHEN len(list_filter(string_split_regex(f.s, ' +'), x -> x <> '')) = 0 THEN 0.0
        |       ELSE FLOOR(CAST(n_chars AS DOUBLE)
        |              / len(list_filter(string_split_regex(f.s, ' +'), x -> x <> ''))
        |              * 10000 + 0.5) / 10000 END AS compression
        |FROM base JOIN f USING (doc_id)""".stripMargin +
        orderAll("doc_id")
  }

  /** xt16 ⊘: the trainer's own merge table over THIS corpus (k = 24)
    * — rows-only (the iterative argmax is not SQL-expressible; xr16
    * certifies the invariants driver-visibly). One row per learned
    * rank.
    */
  val xt16 = GQuery(
    "xt16_bpe_train",
    (s, d) => reap {
      import s.implicits._
      val (merges, _) = trainRun(s, d, 24)
      canonBy(merges.zipWithIndex
        .map { case ((a, b), i) => (i + 1, a, b, a + b) }
        .toDF("rank", "left", "right", "merged"), "rank")
    },
    None)

  def queries: Seq[GQuery] = Seq(xt15, xt15b, xt16)

  /** Distributed BPE training: k merges from the corpus, each chosen
    * as the max-count adjacent pair (ties: pair lex asc) over the
    * persisted (spaced word, count) vocabulary table. Per rank: one
    * vocabulary-sized pair-count aggregation whose argmax — a single
    * row — is the only thing that reaches the driver, then the
    * fixpoint replace applied as a column expression (re-checked with
    * one more pass only while any row still changes — the overlap-run
    * tail, usually zero iterations). localCheckpoint per rank keeps
    * the lineage flat across k iterations. Wrap calls in reap{}.
    */
  def train(s: SparkSession, docs: DataFrame, k: Int): Seq[(String, String)] =
    trainWithVocab(s, docs, k)._1

  /** One full training run over the corpus at `d`, computed from the
    * parquet input on every call (xt16 calls it once, xr16 twice for
    * its determinism clause). Returns only DRIVER-SAFE scalars: the
    * k-row merge table and the trainer's final total token count (sum
    * over the vocabulary of n × tokens per word), so no
    * DataFrame/persisted block outlives the calling query's reap.
    */
  def trainRun(s: SparkSession, d: String,
      k: Int): (Seq[(String, String)], Long) = {
    val (merges, vocab) = trainWithVocab(s, Ctx(s, d).documents, k)
    val trainerToks = vocab
      .select((col("n") *
        size(filter(split(trim(col("s")), " +"), x => x =!= "")))
        .cast("long").as("t"))
      .agg(sum(col("t"))).head.getLong(0)
    (merges, trainerToks)
  }

  /** [[train]] plus the final (spaced word, count) vocabulary state —
    * [[trainRun]] folds the second return into the trainer token
    * total that feeds xr16's implementation tie (word-level
    * column-regexp merge application vs the encoder's per-doc Scala
    * fixpoint must agree on every token count).
    */
  def trainWithVocab(s: SparkSession, docs: DataFrame,
      k: Int): (Seq[(String, String)], DataFrame) = {
    // The corpus-sized work is this ONE aggregation; everything after
    // is vocabulary-sized by construction (the scale contract in the
    // object docstring). When the vocabulary fits a driver cap, the
    // k-rank argmax/replace loop runs in plain Scala over the
    // collected (spaced word, count) rows — the same size-gated
    // driver fast path as Clusters' DSU: the
    // distributed loop costs ~3 driver actions PER RANK (argmax
    // collect + checkpoint + changed-probe), ~72 scheduling
    // round-trips for k=24 over a 31-row table at sf0.1, where the
    // driver loop is 2 actions total. Semantics are identical by
    // construction: same pair counting (adjacent symbols weighted by
    // n), same argmax order (count desc, pair lex asc — ASCII-only
    // symbols, so JVM String order == Spark's UTF8 binary order), and
    // the SAME applyMerge fixpoint the encoder/specs pin (the
    // distributed regexp_replace-until-unchanged global fixpoint
    // equals the per-row fixpoint because replacement is row-local).
    // Over the cap — a production vocabulary — the distributed loop
    // below runs unchanged (BpeSpec pins driver == distributed).
    val baseQ = docs
      .select(explode(Llm.tokens(s, col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(concat(lit(" "),
        regexp_replace(col("w"), "(.)", "$1 ")).as("s"), col("n"))
    val cap = s.conf.get("spark.graft.bpe.trainCap", "65536").toInt
    val head =
      if (cap > 0) baseQ.limit(cap + 1).collect()
      else Array.empty[org.apache.spark.sql.Row]
    if (cap > 0 && head.length <= cap) {
      var vocab = head.map(r => (r.getString(0), r.getLong(1)))
      val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var rank = 0
      while (rank < k) {
        val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
        for ((str, n) <- vocab) {
          val t = str.trim.split(" ")
          var j = 0
          while (j < t.length - 1) {
            val key = (t(j), t(j + 1))
            cnt.update(key, cnt.getOrElse(key, 0L) + n)
            j += 1
          }
        }
        if (cnt.isEmpty) rank = k
        else {
          val (a, b) = cnt.minBy { case ((a, b), c) => (-c, a, b) }._1
          merges += ((a, b))
          vocab = vocab.map { case (str, n) => (applyMerge(str, a, b), n) }
          rank += 1
        }
      }
      import s.implicits._
      (merges.toSeq, vocab.toSeq.toDF("s", "n"))
    } else trainDistributed(s, baseQ, k)
  }

  /** The over-cap distributed training loop (unchanged r14 shape):
    * per rank one vocabulary-sized pair-count aggregation whose argmax
    * reaches the driver as ONE row, then the fixpoint replace as a
    * column expression re-checked while any row still changes.
    */
  private def trainDistributed(s: SparkSession,
      baseQ: DataFrame, k: Int): (Seq[(String, String)], DataFrame) = {
    var vocab = own(baseQ.localCheckpoint(true).persist())
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var rank = 0
    while (rank < k) {
      val top = vocab
        .select(col("n"), split(trim(col("s")), " ").as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(0, size(t) - 2), " +
            "j -> struct(t[j] AS a, t[j + 1] AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (top.isEmpty) rank = k
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        merges += ((a, b))
        val pat = java.util.regex.Pattern.quote(s" $a $b ")
        val rep = java.util.regex.Matcher.quoteReplacement(s" $a$b ")
        var changed = true
        while (changed) {
          // one replace-all pass, materialized once; `changed` reads
          // the materialized frame (no recompute) and is usually false
          // on the second pass — the overlap-run tail is rare
          val stepped = own(vocab
            .select(col("n"), col("s"),
              regexp_replace(col("s"), pat, rep).as("s2"))
            .localCheckpoint(true).persist())
          changed = stepped.filter(col("s2") =!= col("s")).head(1).nonEmpty
          vocab = own(stepped.select(col("s2").as("s"), col("n")).persist())
        }
        rank += 1
      }
    }
    (merges.toSeq, vocab)
  }
}
