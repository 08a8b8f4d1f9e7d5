package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{LayoutOps, SplitOps, TextOps}

/** Round-12f queries: partition-pruned layout reads, the set-operation
  * surface (§2.7 gap), window ranking (§2.7 gap), Poisson bootstrap
  * resampling, and the language-ID confusion report.
  */
object R12fQueries extends QuerySet {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Hive-partitioned layout + pruned read: write docs partitioned by
    // lang, read ONLY the en directory (PartitionFilters — zero bytes of
    // the other languages opened), aggregate per source
    "o5_partitioned_read" -> ((s, dir) => {
      val path = R9Queries.runTmp + "/part_docs_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      LayoutOps.writePartitioned(Tables.docs(s, dir), "lang", path)
      LayoutOps.readPartition(s, path, "lang", "en")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
    }),

    // Set ops (§2.7 "no set operations beyond ordered union"): the token
    // vocabulary shared by the en and de corpora...
    "set_vocab_intersect" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      def toks(lang: String) = d.where(col("lang") === lang)
        .select(explode(TextOps.tokens(col("text"))).as("tok")).distinct()
      toks("en").intersect(toks("de"))
    }),

    // ...and the corpus diff (EXCEPT): content digests present in the
    // src0-2 slice but nowhere else — "what is new in this delivery"
    "set_digest_except" -> ((s, dir) => {
      val d = Tables.docs(s, dir)
      val srcs = Seq("src0", "src1", "src2")
      d.where(col("source").isin(srcs: _*))
        .select(md5(col("text")).as("digest")).distinct()
        .except(d.where(!col("source").isin(srcs: _*))
          .select(md5(col("text")).as("digest")))
    }),

    // Window-ranking surface (§2.7 gap): users ranked per event type by
    // exact total cents — rank/dense_rank are tie-stable, so no
    // tiebreaker column is needed for determinism
    "ev_user_rank" -> ((s, dir) => {
      val cents = round(col("value") * 100).cast("long")
      val w = Window.partitionBy("event_type").orderBy(col("cents").desc)
      Tables.events(s, dir)
        .groupBy("event_type", "user_id").agg(sum(cents).as("cents"))
        .select(col("event_type"), col("user_id"), col("cents"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"))
    }),

    // Poisson(1) bootstrap: each doc replicated c ~ Poisson(1) times from
    // its md5 uniform — the distributed bagging resample, no shuffle
    "o3_bootstrap" -> ((s, dir) =>
      SplitOps.bootstrapSample(Tables.docs(s, dir).select("doc_id"),
        col("doc_id"), seed = 11L)),

    // Language-ID confusion matrix: true lang × predicted lang counts —
    // the classifier-evaluation report over the langId op
    "text_langid_acc" -> ((s, dir) =>
      Tables.docs(s, dir)
        .select(col("lang"), TextOps.langId(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n")))
  )

  private def toksSql(lang: String): String =
    s"""SELECT DISTINCT unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS tok
       |FROM documents WHERE lang = '$lang'""".stripMargin

  def oracles: Map[String, String] = Map(

    "o5_partitioned_read" ->
      """SELECT source, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS chars
        |FROM documents WHERE lang = 'en' GROUP BY source""".stripMargin,

    "set_vocab_intersect" ->
      s"""${toksSql("en")}
         |INTERSECT
         |${toksSql("de")}""".stripMargin,

    "set_digest_except" ->
      """SELECT DISTINCT md5(text) AS digest FROM documents
        |WHERE source IN ('src0', 'src1', 'src2')
        |EXCEPT
        |SELECT md5(text) FROM documents
        |WHERE source NOT IN ('src0', 'src1', 'src2')""".stripMargin,

    "ev_user_rank" ->
      """WITH g AS (
        |  SELECT event_type, user_id,
        |    sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, user_id, cents,
        |  rank() OVER (PARTITION BY event_type ORDER BY cents DESC)::BIGINT AS rnk,
        |  dense_rank() OVER (PARTITION BY event_type ORDER BY cents DESC)::BIGINT AS drnk
        |FROM g""".stripMargin,

    "o3_bootstrap" -> {
      val u = graft.core.Rng.Md5.uniformSql(11L, "boot", Seq("doc_id"))
      val cum = SplitOps.poissonCum(1.0)
      val cases = cum.zipWithIndex
        .map { case (c, k) => s"WHEN u < $c THEN $k" }.mkString("\n    ")
      s"""WITH d AS (SELECT doc_id, $u AS u FROM documents),
         |c AS (SELECT doc_id, CASE
         |    $cases
         |    ELSE ${cum.size} END AS n
         |  FROM d)
         |SELECT doc_id, unnest(generate_series(0, n - 1)) AS copy
         |FROM c WHERE n > 0""".stripMargin
    },

    "text_langid_acc" ->
      """WITH t AS (
        |  SELECT lang,
        |         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |),
        |sc AS (
        |  SELECT lang,
        |    len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht'))) AS s_de,
        |    len(list_filter(toks, x -> x IN ('el','los','las','una','que','por'))) AS s_es,
        |    len(list_filter(toks, x -> x IN ('le','les','des','est','dans','pour'))) AS s_fr,
        |    len(list_filter(toks, x -> x IN ('the','and','of','is','to','in'))) AS s_en
        |  FROM t
        |)
        |SELECT lang,
        |  CASE WHEN s_de IS NULL THEN NULL
        |       WHEN s_de > s_en AND s_de > s_es AND s_de > s_fr THEN 'de'
        |       WHEN s_es > s_en AND s_es > s_fr THEN 'es'
        |       WHEN s_fr > s_en THEN 'fr'
        |       ELSE 'en' END AS lang_pred,
        |  count(*)::BIGINT AS n
        |FROM sc GROUP BY 1, 2""".stripMargin
  )
}
