package graftbench

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class GenSpec extends AnyFunSuite {
  private def scd2(seed: Long) =
    new Scd2Gen(seed, 2000, 200).fingerprint(Scd2Merge.kindOf, 2 * Scd2Merge.Cycle.size)
  private def reads(seed: Long) =
    new ReadsGen(seed, 2000).fingerprint(2 * SnapshotReads.Cycle.size, SnapshotReads.kindOf)
  private def corpus(seed: Long) = CorpusIngest.fingerprint(seed, 2)

  for ((name, fp) <- Seq[(String, Long => String)](
      "scd2_merge" -> scd2, "snapshot_reads" -> reads, "corpus_ingest" -> corpus)) {
    test(s"$name: the same seed gives the same inputs, another seed other inputs") {
      assert(fp(7L) == fp(7L))
      assert(fp(7L) != fp(8L))
    }
  }

  test("scd2 model: upserts change or add one row per changed or new key") {
    val g = new Scd2Gen(1L, 2000, 200)
    val m = new g.Model
    val before = m.rows
    val batch = g.upsert(0L, clustered = true, m)
    assert(batch.map(_._1.pk).distinct.size == batch.size)
    val changed = g.applyUpsert(m, batch)
    assert(m.rows == before + changed)
    assert(changed > batch.size / 2 && changed < batch.size)
  }

  test("reads generator: range counts are analytic over keys 3i + offset") {
    val g = new ReadsGen(3L, 100)
    val keys = (0L until 100).map(g.pkOf)
    for (lo <- Seq(-5L, 0L, 1L, 2L, 50L, 298L); len <- Seq(0L, 1L, 7L, 400L)) {
      val hi = lo + len
      assert(g.rangeCount(lo, hi, 100) == keys.count(k => k >= lo && k <= hi))
    }
  }

  test("corpus generator: originals arrive before their copies") {
    val g = new CorpusGen(5L, 500)
    val docs = g.nextBatch() ++ g.nextBatch()
    val ids = docs.map(_.id)
    assert(ids == ids.sorted && ids.distinct.size == ids.size)
    docs.filter(d => d.kind == CorpusGen.ExactDup || d.kind == CorpusGen.NearDup)
      .foreach(d => assert(d.base < d.id))
    assert(docs.count(_.kind == CorpusGen.Unique) > docs.size / 2)
  }

  test("tail: highest percentile with ten samples beyond it") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    val Some((p, v, beyond)) = Stats.tail((1 to 100).map(_.toDouble))
    assert(p == 90 && v == 90.0 && beyond == 10)
  }

  test("BENCHMARK.json lists the catalog's metrics with the same units") {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    def entries(key: String) = root.get(key).elements().asScala
      .map(n => n.get("name").asText -> (n.get("unit").asText, n.get("better").asText))
      .toSeq
    assert(entries("end_to_end") ==
      Catalog.endToEnd.map(e => e.name -> (e.unit, e.better)))
    assert(entries("per_layer") ==
      Catalog.gatedPerLayer.map(e => e.name -> (e.unit, e.better)))
    assert(root.get("workloads").elements().asScala.map(_.get("name").asText).toSeq ==
      Seq("scd2_merge", "corpus_ingest"))
  }
}
