package graft.pipeline

import graft.SparkSpec

/** P1 golden counts against the real reference corpus (SURVEY §2.3):
  * a miRNA quantification file carries 1,046 probes, an RNA file
  * 20,532; a sample with both file types contributes to a combined
  * 21,578-probe column space. Bounded to a few files so the suite
  * stays fast — the full-corpus path is exercised by
  * LuadPipeline.main (round e2e).
  */
class RealCorpusIngestSpec extends SparkSpec {

  private val base = "/root/reference/input"
  private lazy val config = DefParser.parseFile(s"$base/input.txt")

  private def restrict(names: Seq[String], types: Seq[String]) =
    config.copy(
      samples = config.samples.filter(s => names.contains(s.name))
        .map(s => s.copy(files = s.files.view.filterKeys(types.contains).toMap))
        .filter(_.files.nonEmpty),
      sampleTypes = types)

  test("one miRNA file → 1,046 probes") {
    val sample = config.samples.find(_.files.contains("mirna")).get.name
    val r = Ingest.ingest(spark, base, restrict(Seq(sample), Seq("mirna")))
    assert(r.probeNames.length == 1046)
    assert(r.matrix.count() == 1046)
  }

  test("one RNA file → 20,532 probes") {
    val sample = config.samples.find(_.files.contains("rna")).get.name
    val r = Ingest.ingest(spark, base, restrict(Seq(sample), Seq("rna")))
    assert(r.probeNames.length == 20532)
    assert(r.matrix.count() == 20532)
  }

  test("a sample with both types spans the appended 21,578-probe space") {
    val sample = config.samples
      .find(s => s.files.contains("mirna") && s.files.contains("rna")).get.name
    val r = Ingest.ingest(spark, base, restrict(Seq(sample), Seq("mirna", "rna")))
    assert(r.probeNames.length == 1046 + 20532)
    assert(r.matrix.count() == 1046 + 20532)
  }
}
