package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.table.VersionedTable

/** One run of one workload: set up `setups` times (the last set-up is
  * kept), run `warmup` untimed operations, then a closed loop — one
  * client, each operation issued after the previous one committed — for
  * `--seconds` and at least `minOps` operations, then check every output
  * against the benchmark's model.
  *
  * The last stdout line is one JSON object: `correct`, `attempted`,
  * `failed` and `metrics`, the end-to-end metrics with `--trace 0` and the
  * per-layer metrics with `--trace 1`. Exit code 0 iff every check held.
  *
  * {{{
  * perfbench.Main --workload cdc_microbatch --seed 1 --seconds 6 --trace 0
  * }}}
  */
object Main {

  /** `setups` builds of the initial tables, `warmup` untimed operations,
    * and at least `minOps` timed ones however long they take. */
  final case class Plan(
      setups: Int, warmup: Int, minOps: Int,
      mk: (SparkSession, Path, Tracer, Long) => Workload)

  val Plans: Map[String, Plan] = Map(
    "cdc_microbatch" -> Plan(3, 7, 6, (s, d, t, seed) =>
      new CdcWorkload(s, d, t, seed, initIds = 20000, initFiles = 4, fileRecords = 2000)),
    "cdc_backfill" -> Plan(3, 1, 2, (s, d, t, seed) =>
      new CdcWorkload(s, d, t, seed, initIds = 200000, initFiles = 4, fileRecords = 50000)),
    "history_reads" -> Plan(1, 14, 20, (s, d, t, seed) =>
      new HistoryWorkload(s, d, t, seed, initIds = 5000, versions = 12, fileRecords = 300)),
    "consumer_fanout" -> Plan(3, 3, 3, (s, d, t, seed) =>
      new FanoutWorkload(s, d, t, seed, initDocs = 1000, changes = 100)))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    val plan = Plans.getOrElse(workload, {
      System.err.println(s"unknown workload '$workload'; one of ${Plans.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    })
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val code = run(workload, plan, seed, seconds, trace)
    sys.exit(code)
  }

  private def loadavg(): String =
    scala.util.Try(Files.readString(Paths.get("/proc/loadavg")).split(' ').take(3).mkString(" ")).getOrElse("")

  def run(workload: String, plan: Plan, seed: Long, seconds: Double, trace: Boolean): Int = {
    val load0 = loadavg()
    val t00 = System.nanoTime()
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase(name: String): Unit = phases(name) = (System.nanoTime() - t00) / 1e9
    val nproc = Runtime.getRuntime.availableProcessors()
    val build = Paths.get(".bench_build").toAbsolutePath
    val work = build.resolve("work").resolve(s"$workload-${ProcessHandle.current().pid()}")
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", build.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", build.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    phase("session")
    val tr = new Tracer(trace, spark)
    val errors = mutable.ArrayBuffer.empty[String]
    val times = mutable.ArrayBuffer.empty[Double]
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    var attempted = 0L
    var failed = 0L
    var w: Workload = null
    var writeAmp = 0.0
    var retained = Seq.empty[(String, Double, String)]
    try {
      for (r <- 0 until plan.setups) {
        if (w != null) VersionedTable.deleteRecursively(w.dir)
        val ws = plan.mk(spark, work.resolve(s"setup-$r"), tr, seed)
        val t0 = System.nanoTime()
        ws.setup()
        setupTimes += (System.nanoTime() - t0) / 1e9
        w = ws
      }
      def once(i: Long): Unit = {
        val op = w.nextOp(i)
        tr.beginStep(i)
        attempted += 1
        val t0 = System.nanoTime()
        val n = tr.span("bench.step")(op.run())
        val dt = (System.nanoTime() - t0) / 1e9
        val bad = op.verify()
        if (bad.nonEmpty) { failed += 1; errors ++= bad }
        if (i >= 0) { rows += n; times += dt }
      }
      phase("setup")
      for (_ <- 0 until plan.warmup) once(-1)
      phase("warmup")
      val bytes0 = w.tableBytes
      val in0 = w.inputBytes
      val start = System.nanoTime()
      var i = 0L
      while ((System.nanoTime() - start) / 1e9 < seconds || i < plan.minOps) { once(i); i += 1 }
      phase("timed")
      val in = w.inputBytes - in0
      writeAmp =
        if (in > 0) (w.tableBytes - bytes0).toDouble / in
        else w.tableBytes.toDouble / w.setupInputBytes // read-only: the space the history takes
      if (trace) retained = Layers.retained(spark)
      val bad = w.check()
      if (bad.nonEmpty) { failed += 1; errors ++= bad }
      phase("check")
    } catch {
      case NonFatal(e) =>
        failed += 1; attempted = math.max(attempted, 1)
        errors += s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        e.printStackTrace()
    }
    val correct = errors.isEmpty && times.nonEmpty
    val metrics: Seq[(String, Double, String)] =
      if (!correct) Nil
      else if (!trace) Seq(
        ("setup_s", median(setupTimes.toSeq), "s"),
        ("op_p50_s", median(times.toSeq), "s"),
        ("rows_per_s", rows / times.sum, "1/s"),
        ("write_amp", writeAmp, "x"))
      else {
        tr.settle()
        tr.dump(build.resolve("trace").resolve(s"$workload-seed$seed.jsonl"))
        Layers.metrics(tr, w) ++ retained
      }
    val sparkVersion = spark.version
    spark.stop()
    phase("stop")
    if (Files.exists(work)) VersionedTable.deleteRecursively(work)
    phase("cleanup")
    val env = Seq(
      "workload" -> s""""$workload"""", "seed" -> seed.toString, "trace" -> trace.toString,
      "nproc" -> nproc.toString, "loadavg_start" -> s""""$load0"""", "loadavg_end" -> s""""${loadavg()}"""",
      "java" -> s""""${System.getProperty("java.version")}"""", "spark" -> s""""${sparkVersion}"""",
      "scala" -> s""""${scala.util.Properties.versionNumberString}"""",
      "samples" -> times.size.toString, "setup_samples" -> setupTimes.map(d => f"$d%.3f").mkString("[", ",", "]"),
      "op_s" -> times.map(d => f"$d%.3f").mkString("[", ",", "]"),
      "phase_end_s" -> phases.map { case (k, v) => f""""$k":$v%.1f""" }.mkString("{", ",", "}"),
      "errors" -> errors.take(5).map(e => "\"" + e.replace("\\", "\\\\").replace("\"", "'") + "\"").mkString("[", ",", "]"))
    System.err.println(env.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
    errors.take(20).foreach(e => System.err.println(s"check failed: $e"))
    val metricJson = metrics.map { case (k, v, u) => s""""$k": {"value": $v, "unit": "$u"}""" }
    println(s"""{"correct": $correct, "attempted": ${math.max(attempted, 1)}, "failed": $failed, """ +
      s""""metrics": {${metricJson.mkString(", ")}}}""")
    if (correct) 0 else 1
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
