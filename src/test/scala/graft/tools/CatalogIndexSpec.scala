package graft.tools

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Staleness gate for CATALOG.md (round-7 verdict #2: the generator
  * was skipped for two landings and the committed index silently fell
  * two queries behind the catalog). Regenerates the index in memory
  * through CatalogIndex.render and requires byte-equality with the
  * committed file — a landed query, renamed family, or edited spec
  * pin without a `sbt "runMain graft.tools.CatalogIndex"` is now a
  * red test, not drift.
  */
class CatalogIndexSpec extends AnyFunSuite {

  test("a spec that uses a query only as a fixture is not one of its pins") {
    // the query's name is not spelled out here, so this file pins nothing
    val name = graft.queries.Catalog.all.head.name
    val repo = Files.createTempDirectory("graft_catalog_index")
    val tests = Files.createDirectories(repo.resolve("src/test/scala"))
    Files.writeString(repo.resolve("SCALING.md"), "")
    Files.writeString(tests.resolve("FixtureOnlySpec.scala"), s"val q = fixture(\"$name\")")
    Files.writeString(tests.resolve("PinSpec.scala"), s"assert(rows(\"$name\") == 7)")
    Files.writeString(tests.resolve("BothSpec.scala"),
      s"fixture(\"$name\"); // ${name.takeWhile(_ != '_')} runs 4 jobs")
    val row = CatalogIndex.render(repo).linesIterator
      .find(_.startsWith(s"| $name |")).get.split('|').map(_.trim)
    assert(row(4) === "BothSpec, PinSpec")
    assert(row(5) === "FixtureOnlySpec")
  }

  test("CATALOG.md matches a fresh CatalogIndex.render") {
    val repo = Paths.get(sys.props.getOrElse("graft.repo", "/root/repo"))
    val committed =
      new String(Files.readAllBytes(repo.resolve("CATALOG.md")), "UTF-8")
    val fresh = CatalogIndex.render(repo)
    if (committed != fresh) {
      val cl = committed.linesIterator.toVector
      val fl = fresh.linesIterator.toVector
      val firstDiff = cl.zipAll(fl, "<missing>", "<missing>")
        .zipWithIndex.find { case ((a, b), _) => a != b }
      fail(
        s"CATALOG.md is stale (committed ${cl.size} lines, fresh ${fl.size}). " +
        s"First divergence at line ${firstDiff.map(_._2 + 1).getOrElse(-1)}: " +
        s"committed=${firstDiff.map(_._1._1).getOrElse("")} " +
        s"fresh=${firstDiff.map(_._1._2).getOrElse("")}. " +
        """Regenerate: sbt "runMain graft.tools.CatalogIndex"""")
    }
  }
}
