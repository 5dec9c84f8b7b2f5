package graft.tools

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.queries._

/** Generates CATALOG.md — the compact per-query index of the catalog
  * (round-6 verdict #7: COVERAGE.md is an append-only narrative and no
  * longer serves as an index at 200+ queries). Everything here is
  * DERIVED, never hand-maintained: family from the registering object,
  * oracle kind from the GraftQuery itself, spec pins by scanning the
  * test tree for the query token, fixtures by scanning it for
  * `fixture("<name>")` calls (a spec that reaches a query only through
  * `SparkTestSession.fixture` uses it to test something else and does
  * not pin it), SCALING coverage by scanning SCALING.md. Regenerate
  * with:
  *   sbt "runMain graft.tools.CatalogIndex"
  */
object CatalogIndex {

  def main(args: Array[String]): Unit = {
    val repo = Paths.get(args.headOption.getOrElse("/root/repo"))
    val out = render(repo)
    Files.write(repo.resolve("CATALOG.md"), out.getBytes("UTF-8"))
    // "| q" alone would also match the "| query | family | ..." header
    println(s"[catalog-index] wrote " +
      s"${out.linesIterator.count(_.matches("\\| q\\d.*"))} " +
      s"rows to ${repo.resolve("CATALOG.md")}")
  }

  /** Pure render of the index — CatalogIndexSpec regenerates through
    * this and diffs against the committed file, so a landed query
    * without a CATALOG regen is a red test, not silent drift (the
    * round-7 q282/q283 staleness). */
  def render(repo: java.nio.file.Path): String = {
    val families: Seq[(String, Seq[GraftQuery])] = Seq(
      "relational" -> Relational.queries,
      "text" -> TextQueries.queries,
      "extra" -> ExtraQueries.queries,
      "sql" -> SqlQueries.queries,
      "pipeline" -> PipelineQueries.queries,
      "surface" -> SurfaceQueries.queries,
      "corpus" -> CorpusQueries.queries,
      "analytics" -> AnalyticsQueries.queries,
      "mixture" -> MixtureQueries.queries,
      "curation" -> CurationQueries.queries,
      "label-quality" -> LabelQualityQueries.queries,
      "multimodal" -> MultimodalQueries.queries,
      "selection" -> SelectionQueries.queries,
      "structure" -> StructureQueries.queries,
      "resolution" -> ResolutionQueries.queries,
      "eval" -> EvalQueries.queries,
      "series" -> SeriesQueries.queries,
      "experiment" -> ExperimentQueries.queries,
      "ranking" -> RankingQueries.queries,
      "agreement" -> AgreementQueries.queries,
      "ml-oracle" -> MlOracleQueries.queries,
      "causal" -> CausalQueries.queries,
      "link-pred" -> LinkPredQueries.queries,
      "governance" -> GovernanceQueries.queries,
      "diagnostics" -> DiagnosticsQueries.queries)
    val familyOf: Map[String, String] = families.flatMap { case (f, qs) =>
      qs.map(_.name -> f) }.toMap
    // consistency guard: the generator's family list must cover the
    // catalog exactly, or the index silently drops queries
    val all = Catalog.all
    require(all.forall(q => familyOf.contains(q.name)),
      s"families out of sync: ${all.map(_.name).filterNot(familyOf.contains)}")

    // every test file's text, once
    val testFiles = Files.walk(repo.resolve("src/test/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString.stripSuffix(".scala") ->
        new String(Files.readAllBytes(p), "UTF-8"))
      .toSeq.sortBy(_._1)
    val scaling = new String(
      Files.readAllBytes(repo.resolve("SCALING.md")), "UTF-8")

    def token(name: String): String = name.takeWhile(_ != '_')
    def mentions(text: String, name: String): Boolean = {
      val t = token(name) // qNNN, not followed by another digit
      ("(?<![0-9a-zA-Z])" + t + "(?![0-9])").r.findFirstIn(text).isDefined ||
        text.contains(name)
    }

    // a fixture call names the query in full; what is left of the
    // file after those calls is what pins
    val fixtureCall = """fixture\("([A-Za-z0-9_]+)"\)""".r
    val scanned = testFiles.map { case (f, txt) =>
      (f, fixtureCall.replaceAllIn(txt, ""), fixtureCall.findAllMatchIn(txt).map(_.group(1)).toSet)
    }

    val rows = all.sortBy(q => token(q.name).drop(1).toInt).map { q =>
      val pins = scanned.collect { case (f, rest, _) if mentions(rest, q.name) => f }
      val fixtures = scanned.collect {
        case (f, _, used) if used(q.name) && !pins.contains(f) => f
      }
      val oracle = if (q.oracle.isDefined) "value-exact"
        else "rows-only+pin"
      val sc = if (mentions(scaling, q.name)) "yes" else ""
      s"| ${q.name} | ${familyOf(q.name)} | $oracle | " +
        s"${pins.mkString(", ")} | ${fixtures.mkString(", ")} | $sc | ${q.doc} |"
    }

    val oracleN = all.count(_.oracle.isDefined)
    // NOTE: no stripMargin anywhere near the table — it would eat the
    // leading | of every generated row
    val header = Seq(
      "# Catalog index (generated — do not edit)",
      "",
      "Regenerate: `sbt \"runMain graft.tools.CatalogIndex\"`. One row",
      "per catalog query. *Oracle* `value-exact` = DuckDB hash-compared",
      "at the gate; `rows-only+pin` = no ANSI-SQL twin exists",
      "(RNG/sketch/quantizer semantics), drift-pinned in QueriesSpec",
      "and property-pinned by the listed specs. *Specs* = test files",
      "that reference the query by name (its pins and parity twins).",
      "*Fixture in* = test files that use the query only as a fixture",
      "(through `SparkTestSession.fixture`) to test something else.",
      "*SCALING* = the query has a measured row in SCALING.md.",
      "",
      s"${all.size} queries: $oracleN value-exact, " +
        s"${all.size - oracleN} rows-only.",
      "",
      "| query | family | oracle | specs | fixture in | SCALING | what it computes |",
      "|---|---|---|---|---|---|---|")
    (header ++ rows).mkString("", "\n", "\n")
  }
}
