package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private val base = Files.createDirectories(Paths.get("target", "gen-spec").toAbsolutePath)

  /** relative path -> bytes of every file under `dir` */
  private def contents(dir: Path): Map[String, Seq[Byte]] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap

  private def generate(tag: String, seed: Long): Map[String, Seq[Byte]] = {
    val dir = Dirs.fresh(base.resolve(tag))
    Gen.writeStore(dir.resolve("store"), seed)
    Gen.writeIngest(dir.resolve("ingest"), seed, projects = 2, scale = 0.02,
      corruptShare = 0.05, nBatches = 2, updatesPerBatch = 5, createsPerBatch = 3)
    Gen.writeCorpus(dir.resolve("corpus"), seed, historyDocs = 20, segments = 2,
      freshPerSegment = 20, plantedShare = 0.1, contaminatedShare = 0.1,
      evalDocs = 5, parts = 2)
    try contents(dir) finally Dirs.delete(dir)
  }

  test("one seed writes identical bytes twice, another seed different bytes") {
    val a = generate("a", 7)
    val b = generate("b", 7)
    val c = generate("c", 8)
    assert(a.nonEmpty)
    assert(a.keySet == b.keySet)
    a.foreach { case (f, bytes) => assert(bytes == b(f), s"$f differs for one seed") }
    assert(a.keySet == c.keySet)
    val differ = a.keys.count(f => a(f) != c(f))
    assert(differ > a.size / 2, s"only $differ of ${a.size} files differ across seeds")
  }

  test("planted shares and expected answers follow from the written data") {
    val dir = Dirs.fresh(base.resolve("plan"))
    try {
      val ing = Gen.writeIngest(dir.resolve("ingest"), 3, projects = 1, scale = 0.05,
        corruptShare = 0.05, nBatches = 3, updatesPerBatch = 10, createsPerBatch = 4)
      val r5 = dir.resolve("ingest/r5")
      ing.linesByType.foreach { case (t, n) =>
        assert(Files.readAllLines(r5.resolve(s"$t.ndjson")).size == n)
      }
      assert(ing.corruptByType.values.sum > 0)
      // versions: the seeded feed is version 1; every batch row is one bump
      assert(ing.expectedVersions.values.sum ==
        ing.expectedVersions.size + ing.batchRows.sum - 3 * 4)
      val corpus = Gen.writeCorpus(dir.resolve("corpus"), 3, historyDocs = 30, segments = 3,
        freshPerSegment = 40, plantedShare = 0.1, contaminatedShare = 0.1,
        evalDocs = 5, parts = 2)
      assert(corpus.planted.map(_.exactDups.size) == Seq(4, 4, 4))
      assert(corpus.planted.map(_.mutants.size) == Seq(4, 4, 4))
      assert(corpus.planted.map(_.lowQuality.size) == Seq(4, 4, 4))
      assert(corpus.landed == 3 * (40 + 3 * 4))
      assert(corpus.contaminated.nonEmpty && corpus.vecPairs.nonEmpty)
    } finally Dirs.delete(dir)
  }
}
