package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llm.SignatureIndex
import graft.pipeline.{CdcPipeline, Landing}
import graft.table._

/** One operation of a workload: `run` is the timed part and returns the
  * records it committed or returned; `verify` runs after the clock
  * stops and returns the checks that failed. */
trait Op {
  def run(): Long
  def verify(): Seq[String]
}

/** Write accounting of one table's commits, from their manifests. */
final class WriteStats {
  var commits = 0L
  var rowsWritten = 0L
  var changedRows = 0L
  var filesAdded = 0L
  var filesRemoved = 0L

  def add(t: VersionedTable, v: Long, stats: MergeStats): Unit = {
    val m = t.manifest(v)
    val added = m.addedFiles.toSet
    commits += 1
    rowsWritten += m.dataFiles.filter(f => added(f.path)).flatMap(_.rows).sum
    changedRows += stats.inserted + stats.updated + stats.deleted
    filesAdded += m.addedFiles.size
    filesRemoved += m.removedFiles.size
  }
}

/** A workload: tables built by `setup` under `dir`, then a closed loop
  * of operations. `inputBytes` counts the generated input the measured
  * operations consumed, `tableDirs` what they wrote to. */
abstract class Workload(val spark: SparkSession, val dir: Path, val tr: Tracer) {
  val writes = new WriteStats
  def setup(): Unit
  def nextOp(i: Long): Op
  def check(): Seq[String]
  def tableDirs: Seq[Path]
  def inputBytes: Long
  /** Bytes under the tables' data, change and commit directories. */
  def tableBytes: Long = tableDirs.map { t =>
    Seq(VersionedTable.DATA_DIR, VersionedTable.CHANGES_DIR, VersionedTable.COMMITS_DIR)
      .map(t.resolve).filter(Files.exists(_)).map { d =>
        val s = Files.walk(d)
        try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
        finally s.close()
      }.sum
  }.sum
  /** Bytes of generated input consumed while setting up. */
  def setupInputBytes: Long
}

/** The bronze→silver→gold pipeline fed one landed CDC file per step.
  * `initIds` ids are loaded in setup, as `initFiles` files through the
  * same pipeline step; each step lands a file of `fileRecords` base
  * records plus its duplicates. */
class CdcWorkload(
    spark: SparkSession, dir: Path, tr: Tracer, seed: Long,
    initIds: Int, initFiles: Int, fileRecords: Int)
    extends Workload(spark, dir, tr) {

  val model = new CdcModel
  val gen = new CdcGen(seed, model)
  val landing: String = dir.resolve("landing").toString
  var bronze: VersionedTable = _
  var silver: VersionedTable = _
  var gold: VersionedTable = _
  var landedRecords = 0L
  var landedBytes = 0L
  var setupBytes = 0L
  private var fileNo = 0
  /** Gold version -> the silver version it reflects. */
  val goldOf = scala.collection.mutable.LinkedHashMap.empty[Long, Long]

  def tableDirs: Seq[Path] = Seq(bronze, silver, gold).map(_.root)
  def inputBytes: Long = landedBytes
  def setupInputBytes: Long = setupBytes

  def setup(): Unit = {
    bronze = VersionedTable.create(spark, dir.resolve("bronze").toString, CdcPipeline.bronzeSchema)
    silver = CdcPipeline.createSilver(spark, dir.resolve("silver").toString)
    gold = CdcPipeline.createGold(spark, dir.resolve("gold").toString)
    val init = gen.initial(initIds)
    val per = (init.size + initFiles - 1) / initFiles
    val contents = init.grouped(per).map(CdcRecord.file).toVector
    val stats = pipelineStep(contents)
    setupBytes += contents.map(_.length.toLong).sum
    model.apply(init, stats.version.get)
    goldOf(gold.latestVersion) = stats.version.get
  }

  /** Land → read → lineage → bronze → silver merge → CDF → gold. */
  def pipelineStep(contents: Seq[String]): MergeStats = {
    val names = contents.map { c =>
      fileNo += 1
      val name = f"cdc-$fileNo%06d.json"
      tr.span("pipeline.land")(Landing.land(c, landing, name))
      name
    }
    val paths = names.map(n => s"$landing/$n")
    // reading and lineage are lazy: the JSON parse runs in the bronze append
    val raw = paths.map(CdcPipeline.readCdcJson(spark, _)).reduce(_ unionByName _)
    val bv = tr.span("table.bronze_append")(bronze.append(CdcPipeline.withLineage(raw))).get
    val batch = bronze.readFiles(bronze.manifest(bv).addedFiles, bronze.schema)
    val stats = tr.span("table.silver_merge")(CdcPipeline.mergeBatchIntoSilver(silver, batch))
    val v = tr.span("table.latest_version")(silver.latestVersion)
    val changes = tr.span("table.changes")(silver.changes(v, Some(v)))
    tr.span("table.gold_merge")(
      CdcPipeline.mergeDeltasIntoGold(gold, CdcPipeline.goldDeltas(changes)))
    stats
  }

  def nextOp(i: Long): Op = {
    val recs = gen.next(fileRecords)
    val content = CdcRecord.file(recs)
    new Op {
      var stats: MergeStats = _
      def run(): Long = { stats = pipelineStep(Seq(content)); recs.size }
      def verify(): Seq[String] = {
        landedRecords += recs.size
        landedBytes += content.length
        val v = stats.version.getOrElse(model.version)
        val ch = model.apply(recs, v)
        stats.version.foreach(writes.add(silver, _, stats))
        goldOf(gold.latestVersion) = v
        val want = (ch.count(_.changeType == "insert"),
          ch.count(_.changeType == "update_postimage"), ch.count(_.changeType == "delete"))
        val got = (stats.inserted.toInt, stats.updated.toInt, stats.deleted.toInt)
        if (want != got) Seq(s"silver merge counts $got, model $want") else Nil
      }
    }
  }

  def check(): Seq[String] = {
    val rows = silver.snapshot()
      .select(col("id"), col("country"), col("district"),
        date_format(col("visit_timestamp"), "yyyy-MM-dd HH:mm:ss"),
        col("num_visitors"), date_format(col("cdc_timestamp"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .collect()
    val got = rows.map(r => r.getLong(0) ->
      SilverRow(r.getString(1), r.getString(2), r.getString(3), r.getLong(4), r.getString(5))).toMap
    val want = model.silver
    val silverErr =
      if (got.size != rows.length) Seq("silver has duplicate ids")
      else if (got != want) {
        val bad = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k))
        Seq(s"silver differs from the model on ${bad.size} ids, e.g. ${bad.take(3)}")
      } else Nil
    val goldGot = gold.snapshot().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val recomputed = CdcPipeline.recomputedGold(silver).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val goldErr =
      (if (goldGot != model.gold) Seq(s"gold $goldGot, model ${model.gold}") else Nil) ++
      (if (recomputed != model.recomputedGold || goldGot.filter(_._2 != 0) != recomputed)
         Seq(s"recomputed gold $recomputed, model ${model.recomputedGold}") else Nil)
    val bronzeRows = bronze.snapshot().count()
    val bronzeErr =
      if (bronzeRows != landedRecords + initIds) Seq(s"bronze has $bronzeRows rows, landed ${landedRecords + initIds}")
      else Nil
    silverErr ++ goldErr ++ bronzeErr
  }
}

/** Read-only mix against silver and gold tables whose history is built
  * in setup: `versions` pipeline steps of `fileRecords` records each
  * over `initIds` ids, so the change feed holds compacted spans and an
  * uncompacted tail. */
final class HistoryWorkload(
    spark: SparkSession, dir: Path, tr: Tracer, seed: Long,
    initIds: Int, versions: Int, fileRecords: Int)
    extends CdcWorkload(spark, dir, tr, seed, initIds, 1, fileRecords) {

  private val rnd = new SplittableRandom(seed ^ 0x5eedL)
  private var commitTs: Map[Long, Long] = Map.empty
  /** Rows the key lookups (`snapshot_at`, `snapshot_for_keys`) returned. */
  var lookupRows = 0L
  override def inputBytes: Long = setupBytes
  override def tableDirs: Seq[Path] = Seq(silver.root, gold.root)

  override def setup(): Unit = {
    super.setup()
    for (_ <- 1 to versions) {
      val op = super.nextOp(0)
      op.run()
      val err = op.verify()
      require(err.isEmpty, err.mkString("; "))
    }
    setupBytes += landedBytes
    commitTs = silver.versions.map(v => v -> silver.manifest(v).timestampMs).toMap
  }

  private val Kinds = Vector("snapshot_at", "snapshot_for_keys", "cdf_compacted",
    "cdf_tail", "version_at", "history", "gold_delta_validation")

  private def someIds(n: Int): Seq[Long] =
    Seq.fill(n)(rnd.nextLong(model.idBound)).distinct

  private def silverRows(rows: Array[Row]): Map[Long, (String, Long)] =
    rows.map(r => r.getAs[Long]("id") -> (r.getAs[String]("country"), r.getAs[Long]("num_visitors"))).toMap

  private def modelRows(ids: Seq[Long], v: Long): Map[Long, (String, Long)] =
    ids.flatMap(id => model.rowAt(id, v).map(r => id -> (r.country, r.numVisitors))).toMap

  override def nextOp(i: Long): Op = {
    val latest = model.version
    val wm = silver.cdfCompactWatermark.getOrElse(0L)
    Kinds(Math.floorMod(i, Kinds.size.toLong).toInt) match {
      case "snapshot_at" =>
        val v = 1 + rnd.nextLong(latest); val ids = someIds(20)
        read(tr.span("table.snapshot_at")(silver.snapshotAt(v).filter(col("id").isin(ids: _*)).collect()),
          rows => if (silverRows(rows) != modelRows(ids, v)) Seq(s"snapshotAt($v) differs from the model") else Nil,
          lookup = true)
      case "snapshot_for_keys" =>
        val ids = someIds(50)
        read(tr.span("table.snapshot_for_keys")(silver.snapshotForKeys("id", ids).collect()),
          rows => if (silverRows(rows) != modelRows(ids, latest)) Seq("snapshotForKeys differs from the model") else Nil,
          lookup = true)
      case k @ ("cdf_compacted" | "cdf_tail") =>
        val (lo, hi) =
          if (k == "cdf_compacted") { val lo = 1 + rnd.nextLong(math.max(1, wm - 5)); (lo, math.min(latest, lo + 8)) }
          else { val lo = math.min(latest, wm + 1 + rnd.nextLong(math.max(1, latest - wm))); (lo, latest) }
        read(tr.span("table.cdf_range")(silver.changes(lo, Some(hi)).select(
            col("_commit_version"), col("id"), col("_change_type"), col("country"), col("num_visitors")).collect()),
          rows => {
            val got = rows.map(r => (r.getLong(0), ChangeRow(r.getLong(1), r.getString(2), r.getString(3), r.getLong(4))))
              .toSeq.sortBy(x => (x._1, x._2.id, x._2.changeType))
            val want = model.changes(lo, hi).sortBy(x => (x._1, x._2.id, x._2.changeType))
            if (got != want) Seq(s"changes($lo, $hi): ${got.size} rows, model ${want.size}") else Nil
          })
      case "version_at" =>
        val vs = commitTs.keys.toSeq.sorted
        val (a, b) = (commitTs(vs.head), commitTs(vs.last))
        val ts = a + rnd.nextLong(b - a + 1)
        val want = commitTs.filter(_._2 <= ts).keys.max
        read(Array(Row(tr.span("table.version_at")(silver.versionAt(ts)))),
          rows => if (rows.head.getLong(0) != want) Seq(s"versionAt($ts) = ${rows.head}, want $want") else Nil)
      case "history" =>
        read(tr.span("table.history")(silver.history().collect()),
          rows => if (rows.map(_.getLong(0)).toSeq != commitTs.keys.toSeq.sorted.reverse) Seq("history() lists other versions") else Nil)
      case "gold_delta_validation" =>
        val gvs = goldOf.keys.toVector
        val past = gvs(rnd.nextInt(gvs.size))
        read(tr.span("pipeline.gold_delta_validation")(CdcPipeline.goldDeltaValidation(gold, past).collect()),
          rows => {
            val prev = model.goldAt(goldOf(past)); val curr = model.gold
            val ok = rows.length == curr.size && rows.forall { r =>
              val c = r.getString(0)
              r.getLong(1) == prev.getOrElse(c, 0L) && r.getLong(2) == curr(c)
            }
            if (!ok) Seq(s"goldDeltaValidation($past) differs from the model") else Nil
          })
    }
  }

  private def read(body: => Array[Row], check: Array[Row] => Seq[String], lookup: Boolean = false): Op = new Op {
    var rows: Array[Row] = _
    def run(): Long = { rows = body; if (lookup) lookupRows += rows.length; rows.length }
    def verify(): Seq[String] = check(rows)
  }
}

/** A CDF-enabled source `(doc_id, country, num, text)` and its
  * consumers. Each step merges `changes` changed keys into the source,
  * refreshes the aggregate view and the signature index, and asks the
  * index for the near-duplicate pairs of the changed keys. */
final class FanoutWorkload(
    spark: SparkSession, dir: Path, tr: Tracer, seed: Long,
    initDocs: Int, changes: Int)
    extends Workload(spark, dir, tr) {
  import FanoutWorkload._

  val gen = new DocGen(seed)
  var source: VersionedTable = _
  var agg: AggView = _
  var sig: SignatureIndex = _
  private var bytes = 0L
  private var setupBytes = 0L
  private var lastDelta: Seq[Long] = Nil
  private var lastPairs: Set[(Long, Long)] = Set.empty

  def tableDirs: Seq[Path] = Seq(source.root, agg.table.root, sig.table.root)
  def inputBytes: Long = bytes
  def setupInputBytes: Long = setupBytes

  private def rowBytes(ch: Seq[(Long, Option[Doc])]): Long =
    ch.map { case (_, d) => 16L + d.map(x => x.country.length + x.text.length).getOrElse(0) }.sum

  private def frame(ch: Seq[(Long, Option[Doc])]): DataFrame =
    spark.createDataFrame(ch.map {
      case (id, Some(d)) => Row(id, d.country, d.num, d.text, "UPSERT")
      case (id, None) => Row(id, null, null, null, "DELETE")
    }.asJava, ChangeSchema)

  private def mergeSource(ch: Seq[(Long, Option[Doc])]): MergeStats =
    Merge.run(source, frame(ch), Seq("doc_id"), Clauses)

  def setup(): Unit = {
    source = VersionedTable.create(spark, dir.resolve("source").toString, SourceSchema,
      Map(VersionedTable.PROP_CDF -> "true"), bucketBy = Some(BucketSpec(Seq("doc_id"), 4)))
    val init = gen.initial(initDocs)
    setupBytes = rowBytes(init)
    mergeSource(init)
    agg = AggView.build(source, dir.resolve("agg").toString, Seq("country"),
      sums = Seq("visits" -> "num"), mins = Seq("num" -> "num"), maxs = Seq("num" -> "num"))
    sig = SignatureIndex.build(source, dir.resolve("sig").toString)
  }

  def nextOp(i: Long): Op = {
    val bound = gen.idBound
    val ch = gen.step(changes)
    val delta = ch.collect { case (id, Some(_)) => id }
    new Op {
      var stats: MergeStats = _
      var pairs: Array[Row] = _
      def run(): Long = {
        stats = tr.span("table.source_merge")(mergeSource(ch))
        tr.span("table.agg_view_refresh")(agg.refresh(source))
        tr.span("llm.signature_refresh")(sig.refresh(source))
        pairs = tr.span("llm.pairs_for")(
          sig.pairsFor(spark.createDataFrame(delta.map(Row(_)).asJava, KeySchema)).collect())
        ch.size
      }
      def verify(): Seq[String] = {
        bytes += rowBytes(ch)
        stats.version.foreach(writes.add(source, _, stats))
        lastDelta = delta
        lastPairs = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
        val d = delta.toSet
        val want = (ch.count(_._1 >= bound), ch.count(c => c._1 < bound && c._2.isDefined),
          ch.count(_._2.isEmpty))
        val got = (stats.inserted.toInt, stats.updated.toInt, stats.deleted.toInt)
        (if (got != want) Seq(s"source merge counts $got, want $want") else Nil) ++
          (if (!pairs.forall(r => (d(r.getLong(0)) || d(r.getLong(1))) && r.getDouble(2) >= 0.5))
             Seq("pairsFor returned a pair without a changed key") else Nil)
      }
    }
  }

  def check(): Seq[String] = {
    val docs = gen.docs
    val src = source.snapshot().collect().map(r =>
      r.getLong(0) -> Doc(r.getString(1), r.getLong(2), r.getString(3))).toMap
    val srcErr = if (src != docs) Seq(s"source differs from the model (${src.size} vs ${docs.size} docs)") else Nil
    val wantAgg = docs.values.groupBy(_.country).map { case (c, ds) =>
      c -> (ds.size.toLong, ds.map(_.num).sum, ds.map(_.num).min, ds.map(_.num).max) }
    val gotAgg = agg.table.snapshot()
      .select("country", "n_rows", "sum_visits", "min_num", "max_num").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val aggErr = if (gotAgg != wantAgg) Seq("aggregate view differs from a recompute") else Nil
    // the index against one built from scratch over the same source
    val fresh = SignatureIndex.build(source, dir.resolve("sig-check").toString)
    def sigs(t: VersionedTable) = t.snapshot().select(col("doc_id"), col("mhs")).collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[String](1)).map(_.toVector)).toMap
    val sigErr = if (sigs(sig.table) != sigs(fresh.table)) Seq("signature index differs from a rebuild") else Nil
    val freshPairs = fresh.pairsFor(spark.createDataFrame(lastDelta.map(Row(_)).asJava, KeySchema))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pairErr = if (freshPairs != lastPairs) Seq("pairsFor differs from a rebuilt index") else Nil
    val plantErr = if (lastPairs.isEmpty && freshPairs.isEmpty) Seq("no near-duplicate pairs found") else Nil
    srcErr ++ aggErr ++ sigErr ++ pairErr ++ plantErr
  }
}

object FanoutWorkload {
  val SourceSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("country", StringType),
    StructField("num", LongType), StructField("text", StringType)))
  val ChangeSchema: StructType = SourceSchema.add("__op", StringType)
  val KeySchema: StructType = StructType(Seq(StructField("doc_id", LongType)))
  val Clauses: Seq[MergeClause] = Seq(
    WhenMatchedDelete(Some(col("source.__op") === "DELETE")),
    WhenMatchedUpdate(Some(col("source.__op") === "UPSERT")),
    WhenNotMatchedInsert(Some(col("source.__op") =!= "DELETE")))
}
