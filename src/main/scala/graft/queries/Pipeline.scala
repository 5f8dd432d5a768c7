package graft.queries

import org.apache.spark.sql.functions._
import Det._

/** Composed corpus-curation pipeline — the flagship "what this engine
  * is for" query: the individual operators (quality features QX4/XT1,
  * exact dedup QX1) chained the way a training-data pipeline actually
  * runs them, end-to-end oracle-checked.
  *
  *   documents
  *     -> per-doc quality features (token count, vocabulary diversity)
  *     -> quality gate (n_tokens >= 20 AND distinct_ratio >= 0.4)
  *     -> exact dedup on md5(text), keeping the lowest doc_id
  *     -> per-language curation report
  *
  * Scale shape: the feature pass is one codegen stage over the scan;
  * the dedup is a groupBy on the 128-bit content hash with min_by
  * partial aggregation (never a window over the whole corpus); the
  * three per-lang summaries are tiny and broadcast-joined. The quality
  * gate uses integer cross-multiplication (n_distinct * 5 >= n_tokens
  * * 2) instead of a double threshold so both engines decide borderline
  * docs identically.
  */
object Pipeline {

  val xp1 = GQuery(
    "xp1_curation",
    (s, d) => {
      val c = Ctx(s, d)
      val feat = c.documents
        .withColumn("toks", Llm.tokens(s, col("text")))
        .select(
          col("doc_id"), col("lang"),
          md5(col("text").cast("binary")).as("h"),
          size(col("toks")).as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_distinct"))
      val raw = feat.groupBy("lang").agg(count(lit(1)).as("n_raw"))
      val q = feat.filter(col("n_tokens") >= 20 &&
        col("n_distinct") * 5 >= col("n_tokens") * 2)
      val qc = q.groupBy("lang").agg(count(lit(1)).as("n_quality"))
      val kept = q.groupBy("h").agg(
        min_by(col("lang"), col("doc_id")).as("lang"),
        min_by(col("n_tokens"), col("doc_id")).as("n_tokens"))
      val kc = kept.groupBy("lang").agg(
        count(lit(1)).as("n_kept"),
        sum(col("n_tokens")).cast("long").as("total_tokens"),
        round(avg(col("n_tokens")), 4).as("avg_tokens"))
      canon(raw
        .join(broadcast(qc), Seq("lang"), "left")
        .join(broadcast(kc), Seq("lang"), "left")
        .select(col("lang"), col("n_raw"),
          coalesce(col("n_quality"), lit(0L)).as("n_quality"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("total_tokens"), lit(0L)).as("total_tokens"),
          coalesce(col("avg_tokens"), lit(0.0)).as("avg_tokens")))
    },
    Some(
      """WITH feat AS (
        |  SELECT doc_id, lang, md5(text) AS h,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS n_tokens,
        |    len(list_distinct(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> ''))) AS n_distinct
        |  FROM documents),
        |raw AS (SELECT lang, COUNT(*) AS n_raw FROM feat GROUP BY lang),
        |q AS (SELECT * FROM feat WHERE n_tokens >= 20 AND n_distinct * 5 >= n_tokens * 2),
        |qc AS (SELECT lang, COUNT(*) AS n_quality FROM q GROUP BY lang),
        |kept AS (SELECT h, arg_min(lang, doc_id) AS lang, arg_min(n_tokens, doc_id) AS n_tokens
        |         FROM q GROUP BY h),
        |kc AS (SELECT lang, COUNT(*) AS n_kept,
        |         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |         ROUND(AVG(n_tokens), 4) AS avg_tokens
        |       FROM kept GROUP BY lang),
        |rpt AS (
        |  SELECT r.lang AS lang, r.n_raw AS n_raw,
        |    COALESCE(qc.n_quality, 0) AS n_quality,
        |    COALESCE(kc.n_kept, 0) AS n_kept,
        |    COALESCE(kc.total_tokens, 0) AS total_tokens,
        |    COALESCE(kc.avg_tokens, 0.0) AS avg_tokens
        |  FROM raw r
        |  LEFT JOIN qc ON r.lang = qc.lang
        |  LEFT JOIN kc ON r.lang = kc.lang)
        |SELECT * FROM rpt""".stripMargin +
        orderAll("lang", "n_raw", "n_quality", "n_kept", "total_tokens", "avg_tokens")))

  /** xp2: the FULL curation pipeline — every curation-family operator
    * composed the way a production training-data run chains them, with
    * a per-stage per-language survivor census (the report a data lead
    * actually reads):
    *
    *   documents
    *     -> quality gate        (xt1/xp1 signals: length + diversity)
    *     -> repetition gate     (xc2 signal: duplicate-bigram share)
    *     -> decontamination     (xc3: no 3-shingle overlap with eval)
    *     -> exact dedup         (qx1: md5, min-doc_id survivor)
    *     -> per-language cap    (xc1: deterministic draw, <= 40 docs)
    *     -> per-language report (n_raw / n_quality / n_clean / n_kept /
    *                             n_final / total_tokens)
    *
    * Gates compare with integer cross-multiplication (never float
    * thresholds) and the cap orders by the deterministic draw, so the
    * survivor SET is engine- and partitioning-independent — which is
    * what makes the whole composition oracle-checkable, and what makes
    * a re-run on the same snapshot reproducible at 100 TB. Scale shape:
    * one feature projection in the scan stage feeds every gate; the
    * eval shingle dictionary broadcasts; dedup is a groupBy on the
    * content hash with min_by partial aggregation; the cap is one
    * ranking window per language; the five per-lang summaries are tiny
    * broadcast joins.
    */
  val xp2 = GQuery(
    "xp2_curation_full",
    (s, d) => reap {
      val c = Ctx(s, d)
      // ONE tokenize pass over the corpus, persisted WITH the token
      // arrays: five report branches (raw/qc/cc/kc/fc) and BOTH sides
      // of the decontamination join hang off this frame. Round 6 kept
      // only the derived counts here and re-read+re-tokenized the raw
      // documents to shingle (a second full corpus scan+tokenize —
      // 7.5 s driver-sweep vs 0.6 s warm). Carrying `toks` makes the
      // cache token-arrays-not-raw-text (comparable bytes to the text
      // itself), but the default MEMORY_AND_DISK persist spills, and at
      // 100 TB one cached tokenize pass beats two streamed ones —
      // tokenization is the pipeline's dominant CPU cost.
      val feat = own(c.documents
        .withColumn("toks", Llm.tokens(s, col("text")))
        .withColumn("bg", expr(
          "CASE WHEN size(toks) >= 2 THEN transform(sequence(0, size(toks) - 2), " +
            "i -> concat(toks[i], ' ', toks[i + 1])) ELSE array() END"))
        .select(
          col("doc_id"), col("lang"),
          md5(col("text").cast("binary")).as("h"),
          Curation.drawOf(col("doc_id")).as("draw"),
          size(col("toks")).as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_distinct"),
          size(col("bg")).as("n_bg"),
          size(array_distinct(col("bg"))).as("n_bg_distinct"),
          col("toks"))
        .persist())
      // branches that only need the narrow counts still prune: the
      // in-memory columnar cache serves per-column batches, so raw/q
      // never deserialize the token arrays.
      val raw = feat.groupBy("lang").agg(count(lit(1)).as("n_raw"))
      // quality + repetition gates, integer cross-multiplied
      val q = feat
        .filter(col("n_tokens") >= 20 && col("n_distinct") * 5 >= col("n_tokens") * 2)
        .filter((col("n_bg") - col("n_bg_distinct")) * 2 <= col("n_bg"))
      val qc = q.groupBy("lang").agg(count(lit(1)).as("n_quality"))
      // decontamination: eval slice is doc_id % 41 == 0 (also excluded
      // from the corpus); contaminated = shares any 3-shingle. Keyed
      // off the FULL feat frame, not the gated corpus: a left-anti
      // against a superset of the corpus ids is set-equivalent, and
      // shingling from the cached token arrays costs a transform over
      // cached columns — no second text scan, no second tokenize.
      def sh(df: org.apache.spark.sql.DataFrame) =
        df.filter(size(col("toks")) >= 3)
          .select(col("doc_id"), explode(expr(
            "array_distinct(transform(sequence(0, size(toks) - 3), " +
              "i -> concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2])))")).as("shingle"))
      val evalSh = sh(feat.filter(col("doc_id") % 41 === 0))
        .select("shingle").distinct()
      val corpus = q.filter(col("doc_id") % 41 =!= 0)
      val contaminated = sh(feat.filter(col("doc_id") % 41 =!= 0))
        .join(Scale.maybeBroadcast(evalSh), "shingle")
        .select("doc_id").distinct()
      // clean and kept each feed two branches — persist the narrow
      // survivor sets so the anti-join and dedup groupBy run once
      val clean = own(corpus.drop("toks")
        .join(contaminated, Seq("doc_id"), "left_anti").persist())
      val cc = clean.groupBy("lang").agg(count(lit(1)).as("n_clean"))
      // exact dedup: min-doc_id survivor carries its own lang/draw/tokens
      val kept = own(clean.groupBy("h").agg(
        min(col("doc_id")).as("doc_id"),
        min_by(col("lang"), col("doc_id")).as("lang"),
        min_by(col("draw"), col("doc_id")).as("draw"),
        min_by(col("n_tokens"), col("doc_id")).as("n_tokens"))
        .persist())
      val kc = kept.groupBy("lang").agg(count(lit(1)).as("n_kept"))
      // per-language cap at 40, smallest draws first
      val fin = kept
        .withColumn("rk", row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy(col("draw"), col("doc_id"))))
        .filter(col("rk") <= 40)
      val fc = fin.groupBy("lang").agg(
        count(lit(1)).as("n_final"),
        sum(col("n_tokens")).cast("long").as("total_tokens"))
      canon(raw
        .join(broadcast(qc), Seq("lang"), "left")
        .join(broadcast(cc), Seq("lang"), "left")
        .join(broadcast(kc), Seq("lang"), "left")
        .join(broadcast(fc), Seq("lang"), "left")
        .select(col("lang"), col("n_raw"),
          coalesce(col("n_quality"), lit(0L)).as("n_quality"),
          coalesce(col("n_clean"), lit(0L)).as("n_clean"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("n_final"), lit(0L)).as("n_final"),
          coalesce(col("total_tokens"), lit(0L)).as("total_tokens")))
    },
    Some(
      """WITH feat AS (
        |  SELECT doc_id, lang, text, md5(text) AS h,
        |    (doc_id * 2654435761) % 4294967296 AS draw,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS toks
        |  FROM documents),
        |feat2 AS (
        |  SELECT doc_id, lang, text, h, draw,
        |    len(toks) AS n_tokens, len(list_distinct(toks)) AS n_distinct,
        |    CASE WHEN len(toks) >= 2
        |      THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
        |      ELSE [] END AS bg
        |  FROM feat),
        |feat3 AS (
        |  SELECT doc_id, lang, text, h, draw, n_tokens, n_distinct,
        |    len(bg) AS n_bg, len(list_distinct(bg)) AS n_bg_distinct
        |  FROM feat2),
        |raw AS (SELECT lang, COUNT(*) AS n_raw FROM feat3 GROUP BY lang),
        |q AS (SELECT * FROM feat3
        |      WHERE n_tokens >= 20 AND n_distinct * 5 >= n_tokens * 2
        |        AND (n_bg - n_bg_distinct) * 2 <= n_bg),
        |qc AS (SELECT lang, COUNT(*) AS n_quality FROM q GROUP BY lang),
        |tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, g.shingle FROM tok,
        |    UNNEST(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS g(shingle)
        |  WHERE len(toks) >= 3),
        |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 41 = 0),
        |corpus AS (SELECT * FROM q WHERE doc_id % 41 <> 0),
        |contaminated AS (
        |  SELECT DISTINCT s.doc_id FROM sh s JOIN ev ON s.shingle = ev.shingle
        |  WHERE s.doc_id IN (SELECT doc_id FROM corpus)),
        |clean AS (SELECT * FROM corpus
        |          WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |cc AS (SELECT lang, COUNT(*) AS n_clean FROM clean GROUP BY lang),
        |kept AS (
        |  SELECT h, MIN(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang,
        |    arg_min(draw, doc_id) AS draw, arg_min(n_tokens, doc_id) AS n_tokens
        |  FROM clean GROUP BY h),
        |kc AS (SELECT lang, COUNT(*) AS n_kept FROM kept GROUP BY lang),
        |fin AS (
        |  SELECT * FROM (
        |    SELECT lang, n_tokens,
        |      ROW_NUMBER() OVER (PARTITION BY lang ORDER BY draw, doc_id) AS rk
        |    FROM kept)
        |  WHERE rk <= 40),
        |fc AS (SELECT lang, COUNT(*) AS n_final,
        |         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        |       FROM fin GROUP BY lang)
        |SELECT r.lang AS lang, r.n_raw AS n_raw,
        |  COALESCE(qc.n_quality, 0) AS n_quality,
        |  COALESCE(cc.n_clean, 0) AS n_clean,
        |  COALESCE(kc.n_kept, 0) AS n_kept,
        |  COALESCE(fc.n_final, 0) AS n_final,
        |  COALESCE(fc.total_tokens, 0) AS total_tokens
        |FROM raw r
        |LEFT JOIN qc ON r.lang = qc.lang
        |LEFT JOIN cc ON r.lang = cc.lang
        |LEFT JOIN kc ON r.lang = kc.lang
        |LEFT JOIN fc ON r.lang = fc.lang""".stripMargin +
        orderAll("lang", "n_raw", "n_quality", "n_clean", "n_kept",
          "n_final", "total_tokens")))

  def queries: Seq[GQuery] = Seq(xp1, xp2)
}
