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

  test("every oracle's SQL text is pinned, per domain set, up to whitespace") {
    import graft.queries._
    // sha256 over `name\tsql\n` for each oracle, name-sorted, with every
    // whitespace run collapsed to one space: folding oracle text into shared
    // pieces must leave the SQL a DuckDB oracle runs unchanged.
    def digest(set: QuerySet): String = {
      val text = set.oracles.toSeq.sortBy(_._1).map { case (n, q) =>
        s"$n\t${q.replaceAll("\\s+", " ").trim}\n" }.mkString
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(text.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    }
    val pinned: Seq[(QuerySet, String)] = Seq(
      SamplingQueries ->
        "b73314533a44303760d9069df9bfa40b1a0e529e51a2063c1ea33f67a8d9657d",
      DedupQueries ->
        "3c422aa8f31221e0592a4c6906a4e01a50cea2e5e71fab93e52fa1bc0d70b380",
      TextQueries ->
        "76bac638d07a88432418c2e6f6ae41e2a3eb2e96a5f2bff484c3f313025b688c",
      SimilarityQueries ->
        "b70dc66009f7041d7065e57e348745992d0846d022be25e234cb52d3299ec422",
      MediaQueries ->
        "fb3ef1b349c11c343d3c879c23ee11494bd7cc3fd4f0b551a46b242ec598a84b",
      EventQueries ->
        "81306ec84bdee970360b9213e1a55e61ddf4d86df5c61baf9f557da3f2f6b0a1",
      TpchQueries ->
        "ebe85687f32fe757982183128b1ff302305050d7fd44686b1a68c29885dd0e94",
      MlQueries ->
        "728bed5a5d2552f5406fb85d33dba0b8b4df7a7a07e2cdaa17085bebf4fa8b0e",
      GraphQueries ->
        "426f6057913e7ffa186631ec16473a8e1e77bb68cb6974b9223aaa1673c99563",
      LakeQueries ->
        "08b58ba5295d28888738f488a0b0de819142963b342f3a48410784d39383bf39")
    val moved = pinned.collect { case (set, d) if digest(set) != d =>
      s"${set.getClass.getSimpleName.stripSuffix("$")}: ${digest(set)}" }
    assert(moved.isEmpty, "oracle text changed:\n" + moved.mkString("\n"))
  }
}
