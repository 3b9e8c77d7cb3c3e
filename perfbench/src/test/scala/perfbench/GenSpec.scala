package perfbench

import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  /** The initial load plus `files` files, each folded into the model
    * before the next is drawn, as the benchmark does. */
  private def cdcInputs(seed: Long, files: Int, n: Int = 2000): Vector[Vector[CdcRecord]] = {
    val gen = new CdcGen(seed, new CdcModel)
    val init = gen.initial(5000)
    gen.model.apply(init, 1)
    init +: (2 to files + 1).toVector.map { v =>
      val f = gen.next(n)
      gen.model.apply(f, v)
      f
    }
  }

  private def bytes(files: Seq[Vector[CdcRecord]]): Seq[String] = files.map(CdcRecord.file)

  test("the same seed gives byte-identical CDC files; another seed does not") {
    assert(bytes(cdcInputs(7, 5)) == bytes(cdcInputs(7, 5)))
    assert(bytes(cdcInputs(7, 5)) != bytes(cdcInputs(8, 5)))
  }

  test("a CDC file holds the requested op mix and duplicate shares") {
    val files = cdcInputs(3, 6)
    for (Seq(prev, cur) <- files.sliding(2).toSeq.drop(1)) {
      val prevSet = prev.toSet
      val distinct = cur.distinct
      val inter = distinct.filter(prevSet)
      val base = distinct.filterNot(prevSet)
      assert(base.size == 2000)
      val share = base.groupMapReduce(_.op)(_ => 1.0)(_ + _).view.mapValues(_ / base.size).toMap
      assert(math.abs(share("INSERT") - 0.2) < 0.01)
      assert(math.abs(share("DELETE") - 0.1) < 0.01)
      assert(math.abs(share("UPDATE") - 0.7) < 0.01)
      // verbatim copies: of this file's own records, and of the previous file's
      val intraCopies = cur.count(r => !prevSet(r)) - base.size
      assert(math.abs(intraCopies / 2000.0 - 0.05) < 0.01)
      assert(math.abs(cur.count(prevSet) / 2000.0 - 0.05) < 0.01)
      assert(inter.nonEmpty)
    }
  }

  test("the same seed gives the same documents and changes; another seed does not") {
    def run(seed: Long) = { val g = new DocGen(seed); (g.initial(2000), (1 to 3).map(_ => g.step(300))) }
    assert(run(5) == run(5))
    assert(run(5) != run(6))
  }

  test("a document step holds the requested change mix and plants near-duplicates") {
    val g = new DocGen(11)
    val init = g.initial(3000)
    val bound = g.idBound
    val ch = g.step(1000)
    assert(ch.map(_._1).distinct.size == 1000)
    assert(ch.count(_._1 >= bound) == 200)
    assert(ch.count(_._2.isEmpty) == 100)
    assert(ch.count(c => c._1 < bound && c._2.isDefined) == 700)
    // a planted near-duplicate differs from an earlier text in exactly one word
    val texts = init.flatMap(_._2).map(_.text.split(' ').toVector)
    val byLen = texts.groupBy(_.size)
    val near = texts.count(t => byLen(t.size).exists(o => o != t && o.zip(t).count(p => p._1 != p._2) == 1))
    assert(near.toDouble / texts.size > 0.05)
  }

  private def fixture(name: String): Vector[CdcRecord] = {
    implicit val fmt: Formats = DefaultFormats
    val path = Paths.get("..", "src", "test", "resources", "cdc", name)
    parse(Files.readString(path)).children.toVector.map { j =>
      CdcRecord((j \ "id").extract[Long], (j \ "country").extract[String],
        (j \ "district").extract[String], (j \ "visit_timestamp").extract[String],
        (j \ "num_visitors").extract[Long], (j \ "cdc_operation").extract[String],
        (j \ "cdc_timestamp").extract[String])
    }
  }

  test("the model reproduces the reference's gold on its seed and edge files") {
    val m = new CdcModel
    m.apply(fixture("seed.json"), 1)
    assert(m.silver.size == 18)
    assert(m.gold == Map("England" -> 4170L, "Wales" -> 3903L,
      "Northern Ireland" -> 3351L, "Scotland" -> 1934L))
    m.apply(fixture("edge.json"), 2)
    assert(m.silver.size == 19)
    assert(m.row(7).map(_.numVisitors).contains(10934L))
    assert(m.row(298).map(_.numVisitors).contains(994L))
    assert(m.gold == Map("Australia" -> 10000L, "England" -> 14170L, "Wales" -> 3903L,
      "Northern Ireland" -> 3351L, "Scotland" -> 1934L))
    assert(m.gold == m.recomputedGold)
    assert(m.goldAt(1) == Map("England" -> 4170L, "Wales" -> 3903L,
      "Northern Ireland" -> 3351L, "Scotland" -> 1934L))
    // the inter-batch duplicate of id 298 changes nothing at version 2
    assert(m.changes(2, 2).map(_._2.id).toSet == Set(-1L, 7L))
  }

  test("interval union counts overlaps once") {
    assert(Tracer.union(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    assert(Tracer.union(Nil) == 0L)
  }
}
