package graft

import org.scalatest.funsuite.AnyFunSuite

/** SURVEY.md §2.8 ↔ `SparkEntry.queries` cross-check — the coverage map
  * is a CHECKED artifact, not hand-maintained prose (r15 shipped three
  * mutually inconsistent counts; this assertion makes that class of
  * drift a test failure).
  *
  * Contract enforced:
  *  - every §2.8 table row is well-formed (exactly 4 cells — a raw `|`
  *    inside a cell silently shifts the Query column out from under the
  *    parser, which is how 13 citations went missing in r16's map);
  *  - every backticked query-key-shaped token in the Query column names
  *    a registered query (globs like `dd_incremental*` must match ≥ 1);
  *  - every registered query is cited by at least one row;
  *  - `oracleSql` keys == `queries` keys (the GATES cross-check, in-repo).
  */
class SurveyRegistrySpec extends AnyFunSuite {

  private def surveyLines: Vector[String] = {
    val candidates = Seq("SURVEY.md", "/root/repo/SURVEY.md")
    val path = candidates.map(java.nio.file.Paths.get(_))
      .find(java.nio.file.Files.exists(_))
      .getOrElse(fail(s"SURVEY.md not found at any of $candidates"))
    scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(path)).asScala.toVector
  }

  // a cell delimiter is an UNESCAPED pipe; `\|` is cell text
  private val cellSplit = "(?<!\\\\)\\|"
  private val keyToken = "`([a-z0-9_]+\\*?)`".r

  test("SURVEY §2.8 and SparkEntry.queries cite each other exactly") {
    val lines = surveyLines
    val start = lines.indexWhere(_.startsWith("### 2.8"))
    assert(start >= 0, "SURVEY.md has no '### 2.8' section")
    val endRel = lines.drop(start + 1).indexWhere(_.startsWith("## "))
    val section =
      if (endRel < 0) lines.drop(start) else lines.slice(start, start + 1 + endRel)

    val rows = section.filter(_.startsWith("|"))
    assert(rows.size > 100, s"suspiciously small §2.8 table: ${rows.size} rows")

    val malformed = rows.filter(r => r.split(cellSplit, -1).length != 6)
    assert(malformed.isEmpty,
      "malformed §2.8 rows (escape interior pipes as \\|):\n" +
        malformed.map(_.take(100)).mkString("\n"))

    val queryCells = rows.map(r => r.split(cellSplit, -1)(3))
    val tokens = queryCells.flatMap(c =>
      keyToken.findAllMatchIn(c).map(_.group(1))).toSet
    val (globs, cited) = tokens.partition(_.endsWith("*"))

    val registered = SparkEntry.queries.keySet

    val phantom = cited.diff(registered)
    assert(phantom.isEmpty,
      s"SURVEY §2.8 cites unregistered queries: ${phantom.toSeq.sorted}")

    val deadGlobs = globs.filter(g => !registered.exists(_.startsWith(g.dropRight(1))))
    assert(deadGlobs.isEmpty,
      s"SURVEY §2.8 globs match no registered query: ${deadGlobs.toSeq.sorted}")

    val covered = cited ++
      globs.flatMap(g => registered.filter(_.startsWith(g.dropRight(1))))
    val uncited = registered.diff(covered)
    assert(uncited.isEmpty,
      s"registered queries uncited in SURVEY §2.8: ${uncited.toSeq.sorted}")
  }

  test("a name defined in two query sets fails the registry build") {
    val e = intercept[IllegalArgumentException](graft.queries.QuerySet.merge(
      "query", Seq(Map("a" -> 1, "b" -> 2), Map("c" -> 3), Map("b" -> 4))))
    assert(e.getMessage.contains("query defined in two query sets: b"))
  }

  test("every registered name belongs to exactly one domain set, by prefix") {
    import graft.queries._
    val domains: Seq[(QuerySet, Set[String])] = Seq(
      SamplingQueries -> Set("o1", "o2", "o3", "o4", "a2", "a6", "b2", "b3",
        "b6", "u2", "u5", "u6", "u8", "u9", "p3", "p5", "pipeline", "pack", "mix"),
      DedupQueries -> Set("dd", "pipe"),
      TextQueries -> Set("text", "pii", "rlhf", "set"),
      SimilarityQueries -> Set("sim", "emb", "sketch"),
      MediaQueries -> Set("mm"),
      EventQueries -> Set("ev", "join", "skew"),
      TpchQueries -> Set("tpch"),
      MlQueries -> Set("ml"),
      GraphQueries -> Set("graph"),
      LakeQueries -> Set("o5", "s1", "s2", "s3", "stream", "a1"))
    val prefixes = domains.flatMap(_._2)
    assert(prefixes.distinct.size == prefixes.size, "a prefix mapped to two sets")
    val misplaced = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val owners = domains.collect { case (set, ps) if ps(name.takeWhile(_ != '_')) => set }
      val holders = domains.collect { case (set, _) if set.queries.contains(name) => set }
      if (owners.size == 1 && holders == owners && owners.head.oracles.contains(name)) None
      else Some(s"$name: prefix set ${owners.map(_.getClass.getSimpleName)}, " +
        s"defined in ${holders.map(_.getClass.getSimpleName)}")
    }
    assert(misplaced.isEmpty, misplaced.mkString("\n"))
  }

  test("oracleSql keys equal queries keys") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q.diff(o).isEmpty, s"queries without oracle SQL: ${q.diff(o).toSeq.sorted}")
    assert(o.diff(q).isEmpty, s"oracle SQL without query: ${o.diff(q).toSeq.sorted}")
  }
}
