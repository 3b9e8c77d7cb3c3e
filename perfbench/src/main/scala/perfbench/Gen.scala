package perfbench

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded generator of CDC files over a [[CdcModel]].
  *
  * A file of `n` base records is 20 % inserts of new ids, 10 % deletes
  * and 70 % updates of distinct live ids; on top come verbatim copies of
  * 5 % of its own records (intra-batch duplicates) and of 5 % of the
  * previous file's records (inter-batch duplicates, as a re-sent
  * upstream file would carry them). Every record has its own
  * strictly increasing `cdc_timestamp`, so only verbatim duplicates tie.
  * The generator reads the model's live set, so the caller must fold
  * each file into the model before asking for the next one. */
final class CdcGen(seed: Long, val model: CdcModel) {
  import CdcGen._
  private val rnd = new SplittableRandom(seed)
  private var clockMicros = 0L
  private var previous: Vector[CdcRecord] = Vector.empty

  private def nextTs(): String = {
    clockMicros += 1 + rnd.nextInt(5000)
    Epoch.plusNanos(clockMicros * 1000L).format(CdcFmt)
  }

  private def visitTs(): String =
    Epoch.minusSeconds(rnd.nextInt(7 * 86400)).format(VisitFmt)

  private def fresh(id: Long, op: String): CdcRecord =
    CdcRecord(id, Countries(rnd.nextInt(Countries.length)),
      s"District_${1 + rnd.nextInt(20)}", visitTs(), 1 + rnd.nextInt(5000),
      op, nextTs())

  /** Inserts only: the initial load of `n` ids. */
  def initial(n: Int): Vector[CdcRecord] = {
    val out = Vector.fill(n)(fresh(model.freshId(), "INSERT"))
    previous = out
    out
  }

  /** The next file of `n` base records plus its duplicates. */
  def next(n: Int): Vector[CdcRecord] = {
    val nIns = math.round(n * 0.2).toInt
    val nDel = math.min(math.round(n * 0.1).toInt, model.size / 4)
    val nUpd = n - nIns - nDel
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < nDel + nUpd && picked.size < model.size)
      picked += model.liveAt(rnd.nextInt(model.size))
    val (del, upd) = picked.toVector.splitAt(nDel)
    val base = Vector.fill(nIns)(fresh(model.freshId(), "INSERT")) ++
      del.map { id =>
        val r = model.row(id).get
        CdcRecord(id, r.country, r.district, r.visitTs, r.numVisitors, "DELETE", nextTs())
      } ++
      upd.map { id =>
        val r = model.row(id).get
        // a new visitor count, and now and then a move
        val c = if (rnd.nextInt(10) == 0) Countries(rnd.nextInt(Countries.length)) else r.country
        CdcRecord(id, c, r.district, r.visitTs, 1 + rnd.nextInt(5000), "UPDATE", nextTs())
      }
    val intra = Vector.fill(math.round(base.size * IntraDup).toInt)(base(rnd.nextInt(base.size)))
    val inter =
      if (previous.isEmpty) Vector.empty
      else Vector.fill(math.round(base.size * InterDup).toInt)(previous(rnd.nextInt(previous.size)))
    val out = shuffle(base ++ intra ++ inter)
    previous = base
    out
  }

  private def shuffle[T](xs: Vector[T]): Vector[T] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector.asInstanceOf[Vector[T]]
  }
}

object CdcGen {
  val Countries: Vector[String] = Vector(
    "England", "Wales", "Scotland", "Northern Ireland", "Australia", "France",
    "Germany", "Spain", "Italy", "Portugal", "Ireland", "Norway", "Sweden",
    "Denmark", "Poland", "Austria", "Belgium", "Netherlands", "Canada", "Japan")
  /** Verbatim copies per base record: of the same file, of the previous one. */
  private val IntraDup = 0.05
  private val InterDup = 0.05
  private val Epoch = LocalDateTime.of(2023, 1, 8, 0, 0)
  private val CdcFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
  private val VisitFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
}

/** One document of the consumer fan-out source. */
final case class Doc(country: String, num: Long, text: String)

/** Seeded generator of documents and of per-step change sets. 10 % of
  * new texts copy an existing text with one word changed,
  * so the LSH join has true candidates. */
final class DocGen(seed: Long) {
  import DocGen._
  private val rnd = new SplittableRandom(seed)
  private var nextId = 0L
  val docs: mutable.LinkedHashMap[Long, Doc] = mutable.LinkedHashMap.empty
  private val ids = mutable.ArrayBuffer.empty[Long]

  /** Every doc id issued so far is below this. */
  def idBound: Long = nextId

  private def words(n: Int): Vector[String] = Vector.fill(n)(Vocab(rnd.nextInt(Vocab.length)))

  private def text(): String =
    if (ids.nonEmpty && rnd.nextDouble() < NearDup) {
      val w = docs(ids(rnd.nextInt(ids.size))).text.split(' ')
      w(rnd.nextInt(w.length)) = Vocab(rnd.nextInt(Vocab.length))
      w.mkString(" ")
    } else words(12 + rnd.nextInt(12)).mkString(" ")

  private def doc(): Doc =
    Doc(CdcGen.Countries(rnd.nextInt(CdcGen.Countries.length)), 1 + rnd.nextInt(1000), text())

  def initial(n: Int): Vector[(Long, Option[Doc])] =
    Vector.fill(n) { val id = nextId; nextId += 1; val d = doc(); add(id, d); id -> Some(d) }

  private def add(id: Long, d: Doc): Unit = { if (!docs.contains(id)) ids += id; docs(id) = d }

  /** `n` changed keys: 20 % inserts, 10 % deletes, 70 % updates (new
    * count, now and then a new country or text). `None` deletes. */
  def step(n: Int): Vector[(Long, Option[Doc])] = {
    val nIns = n / 5; val nDel = n / 10
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < n - nIns && picked.size < ids.size) picked += ids(rnd.nextInt(ids.size))
    val (del, upd) = picked.toVector.splitAt(nDel)
    val out = Vector.newBuilder[(Long, Option[Doc])]
    del.foreach(id => out += id -> None)
    upd.foreach { id =>
      val d = docs(id)
      val u = rnd.nextInt(10) match {
        case 0 => d.copy(country = CdcGen.Countries(rnd.nextInt(CdcGen.Countries.length)))
        case 1 => d.copy(text = text())
        case _ => d.copy(num = 1 + rnd.nextInt(1000))
      }
      out += id -> Some(u)
    }
    for (_ <- 0 until nIns) { val id = nextId; nextId += 1; out += id -> Some(doc()) }
    val changes = out.result()
    changes.foreach {
      case (id, Some(d)) => add(id, d)
      case (id, None) =>
        docs.remove(id)
        val i = ids.indexOf(id); ids(i) = ids.last; ids.remove(ids.size - 1)
    }
    changes
  }
}

object DocGen {
  /** Share of new texts that are one-word edits of an earlier text. */
  private val NearDup = 0.1
  private val Vocab: Vector[String] = {
    val r = new SplittableRandom(42)
    Vector.tabulate(2000)(_ => Vector.fill(3 + r.nextInt(6))(('a' + r.nextInt(26)).toChar).mkString)
  }
}
