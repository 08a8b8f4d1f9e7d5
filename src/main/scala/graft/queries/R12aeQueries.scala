package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{EventOps, TextOps}

/** Round-12ae queries: item co-occurrence/lift, Gini concentration, and
  * the character-class profile.
  */
object R12aeQueries extends QuerySet {

  // anchored regex, not a full JSON parse — ~20× cheaper per row on the
  // fixed machine format (same rationale as ev_item_trend)
  private def itemCol =
    nullif(regexp_extract(col("props"), "\"k\": ([0-9]+)", 1), lit(""))
      .cast("int")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Co-visitation similarity over the JSON item id in props: users
    // touching both items of a pair, with lift vs independence — the
    // item-to-item recommendation table.
    "ev_item_cooc" -> ((s, dir) =>
      EventOps.itemCooc(Tables.events(s, dir), col("user_id"), itemCol)),

    // Catalog-concentration card: Gini of per-item click mass (0 uniform,
    // →1 winner-takes-all) from exact integer sums.
    "ev_item_gini" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(itemCol.as("item")).where(col("item").isNotNull)
      EventOps.giniConcentration(e.groupBy("item")
        .agg(count(lit(1)).as("w")), col("item"), col("w"))
    }),

    // Charset profile per source: letter/digit/space/other fractions —
    // the mojibake / table-dump detector.
    "text_script_profile" -> ((s, dir) =>
      TextOps.scriptProfile(Tables.docs(s, dir), col("text"), col("source")))
  )

  def oracles: Map[String, String] = Map(

    "ev_item_cooc" ->
      """WITH ui AS (SELECT DISTINCT user_id AS u,
        |    json_extract_string(props, '$.k')::INT AS item
        |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |ni AS (SELECT item, count(*)::BIGINT AS n_item FROM ui GROUP BY 1),
        |nu AS (SELECT count(DISTINCT u)::BIGINT AS n_users FROM ui),
        |p AS (SELECT a.item AS i, b.item AS j, count(*)::BIGINT AS n_co
        |  FROM ui a JOIN ui b ON a.u = b.u AND a.item < b.item
        |  GROUP BY 1, 2)
        |SELECT i, j, n_co,
        |  (n_co * n_users)::DOUBLE / (na.n_item * nb.n_item)::DOUBLE AS lift
        |FROM p JOIN ni na ON na.item = p.i JOIN ni nb ON nb.item = p.j
        |CROSS JOIN nu""".stripMargin,

    "ev_item_gini" ->
      """WITH w AS (SELECT json_extract_string(props, '$.k')::INT AS item,
        |    count(*)::BIGINT AS w
        |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
        |  GROUP BY 1),
        |r AS (SELECT w, row_number() OVER (ORDER BY w, item) AS rn FROM w),
        |s AS (SELECT count(*)::BIGINT AS n, sum(w)::BIGINT AS s,
        |    sum(rn * w)::BIGINT AS s1 FROM r)
        |SELECT n, s AS total,
        |  (2 * s1 - (n + 1) * s)::DOUBLE / (n * s)::DOUBLE AS gini
        |FROM s""".stripMargin,

    "text_script_profile" ->
      """WITH b AS (SELECT source AS grp,
        |    length(text)::BIGINT AS total,
        |    (length(text) - length(regexp_replace(lower(text), '[a-z]', '', 'g')))
        |      ::BIGINT AS letters,
        |    (length(text) - length(regexp_replace(lower(text), '[0-9]', '', 'g')))
        |      ::BIGINT AS digits,
        |    (length(text) - length(regexp_replace(lower(text), '[ \t\n]', '', 'g')))
        |      ::BIGINT AS spaces
        |  FROM documents),
        |g AS (SELECT grp, sum(total)::BIGINT AS total,
        |    sum(letters)::BIGINT AS letters, sum(digits)::BIGINT AS digits,
        |    sum(spaces)::BIGINT AS spaces
        |  FROM b GROUP BY 1)
        |SELECT grp, total,
        |  round(letters::DOUBLE / total::DOUBLE, 6) AS letter_frac,
        |  round(digits::DOUBLE / total::DOUBLE, 6) AS digit_frac,
        |  round(spaces::DOUBLE / total::DOUBLE, 6) AS space_frac,
        |  round((total - letters - digits - spaces)::DOUBLE / total::DOUBLE, 6)
        |    AS other_frac
        |FROM g""".stripMargin
  )
}
