package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** What one workload run reports back to [[Main]]. */
final class Report {
  /** When the run began, before the session started: set-up is measured
    * from here. */
  val startNs: Long = System.nanoTime()
  /** Named end-to-end metrics: name -> (value, unit, samples). */
  val named = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  /** Raw latency samples, kept for tails pooled across runs. */
  val samples = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
  /** Per-layer values measured by the client itself (not from spans). */
  val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  /** Outcomes of known program defects: recorded and printed on every
    * run, but not counted as failed operations. */
  val findings = ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L
  /** Time spent in [[harness]] blocks, which timed figures leave out. */
  var harnessNs = 0L
  /** Workload-neutral end-to-end values: name -> (value, unit). */
  val e2e = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]

  def metric(name: String, value: Double, unit: String, samples: Int = 1): Unit =
    named(name) = (value, unit, samples)

  /** Record one output check; a failed check counts as a failed op. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) failed += 1
  }

  /** Record the outcome of a known program defect, without failing the run. */
  def finding(name: String, ok: Boolean, detail: => String = ""): Unit =
    findings += ((name, ok, if (ok) "" else detail))

  /** Run benchmark-side work (an output check, a file walk, an input copy)
    * that sits inside a timed section, and add its time to `harnessNs`. */
  def harness[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally harnessNs += System.nanoTime() - t0
  }

  /** Time `body` as one attempted operation of the timed pass. */
  def op[T](body: => T): (T, Double) = {
    attempted += 1
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

/** Statistics used by every workload. */
object Stats {
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: collection.Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Benchmark entry point: one workload, one seed, one run.
  *
  *   perfbench.Main --workload journey|fleet|curation --seed N
  *     --seconds S --trace 0|1 --work DIR --out FILE
  *
  * `--seconds` sets how much fixed work the timed pass does (each
  * workload sizes its pass from it), so runs with the same arguments do
  * the same work. With `--trace 1` the benchmark registers its own
  * SparkListener and opens a span around every call into a layer; the
  * per-layer table, self times and the spans go to `--out`. */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out"))
    val run: (SparkSession, Long, Int, Path, Report) => Unit = workload match {
      case "journey"  => Journey.run
      case "fleet"    => Fleet.run
      case "curation" => Curation.run
      case w          => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    deleteTree(work)
    Files.createDirectories(work)
    val report = new Report
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log(report, "session up")
    if (traced) {
      spark.sparkContext.addSparkListener(Trace.listener)
      Trace.enabled = true
    }
    try run(spark, seed, seconds, work, report)
    catch {
      case scala.util.control.NonFatal(e) =>
        report.attempted += 1
        report.check("workload completed", ok = false,
          s"${e.getClass.getSimpleName}: ${e.getMessage}")
        e.printStackTrace()
    } finally spark.stop()
    report.metric("peak_rss_mb", peakRssMb(), "MB")
    report.metric("error_rate",
      report.failed.toDouble / math.max(1L, report.attempted), "ratio", report.attempted.toInt)
    val json = render(workload, seed, cores, traced, report)
    Files.writeString(out, JsonMethods.pretty(JsonMethods.render(json)))
    deleteTree(work)
    if (report.failed > 0) sys.exit(2)
  }

  /** A progress line on stderr, with seconds since the run began. */
  def log(r: Report, msg: String): Unit =
    System.err.println(f"perfbench ${(System.nanoTime() - r.startNs) / 1e9}%7.2fs $msg")

  /** Run `body` (warm-up work) without recording spans. */
  def untraced[T](body: => T): T = {
    val was = Trace.enabled
    Trace.enabled = false
    try body finally Trace.enabled = was
  }

  /** This JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.deleteIfExists(x): Unit)
      finally walk.close()
    }

  private def num(d: Double): JValue = JDouble(d)

  private def render(workload: String, seed: Long, cores: Int, traced: Boolean,
      r: Report): JValue = {
    val e2e = JObject(r.e2e.toList.map { case (k, (v, u)) =>
      k -> JObject("value" -> num(v), "unit" -> JString(u)) })
    val named = JObject(r.named.toList.map { case (k, (v, u, n)) =>
      k -> JObject("value" -> num(v), "unit" -> JString(u), "samples" -> JInt(n)) })
    def outcomes(xs: Seq[(String, Boolean, String)]) = JArray(xs.toList.map { case (n, ok, d) =>
      JObject("name" -> JString(n), "ok" -> JBool(ok), "detail" -> JString(d)) })
    val base = List(
      "workload" -> JString(workload), "seed" -> JInt(seed), "cores" -> JInt(cores),
      "trace" -> JBool(traced), "attempted" -> JInt(r.attempted),
      "failed" -> JInt(r.failed), "e2e" -> e2e, "named" -> named,
      "checks" -> outcomes(r.checks.toSeq), "findings" -> outcomes(r.findings.toSeq),
      "samples" -> JObject(r.samples.toList.map { case (k, xs) => k -> JArray(xs.toList.map(num)) }))
    val layered =
      if (!traced) Nil
      else {
        val t = Layers.table(r)
        List("layers" -> JObject(t.metrics.toList.map { case (k, v) => k -> num(v) }),
          "coverage" -> num(t.coverage),
          "self_ms" -> JObject(t.selfMs.toList.map { case (k, v) => k -> num(v) }),
          "spans" -> JArray(Trace.all.toList.map(s => JObject(
            "id" -> JInt(s.id), "name" -> JString(s.name), "parent" -> JInt(s.parent),
            "request" -> JString(s.request), "start_ms" -> num(s.start),
            "end_ms" -> num(s.end)))))
      }
    JObject(base ++ layered)
  }
}

/** Per-layer table of a traced run. Span names are the layer metric
  * prefixes (`api.read`, `ml.fit.seasonal`, ...); every span whose name
  * starts with a module name below is a layer span. Each stat is the
  * median over the calls of that name in the run, so counts read per
  * call. */
object Layers {
  val modules = Seq("api.", "sources.", "operators.", "ml.", "streaming.", "io.")
  def isLayer(name: String): Boolean = modules.exists(name.startsWith)

  final case class Table(metrics: Map[String, Double], coverage: Double,
      selfMs: Map[String, Double])

  def table(r: Report): Table = {
    val spans = Trace.all
    val charges = Trace.charges()
    val children = spans.groupBy(_.parent)
    val byId = spans.map(s => s.id -> s).toMap
    def charge(id: Int) = charges.getOrElse(id, new Charge)
    val stats = spans.filter(s => isLayer(s.name)).groupBy(_.name).toSeq.flatMap {
      case (name, calls) =>
        def med(f: Span => Double) = Stats.median(calls.map(f))
        Seq(
          s"$name.ms" -> med(_.ms),
          s"$name.jobs" -> med(s => charge(s.id).jobs.toDouble),
          s"$name.tasks" -> med(s => charge(s.id).tasks.toDouble),
          s"$name.cpu_s" -> med(s => charge(s.id).cpuNs / 1e9),
          s"$name.shuffle_mb" -> med(s => charge(s.id).shuffleBytes / 1048576.0),
          s"$name.input_rows" -> med(s => charge(s.id).inputRows.toDouble))
    }.toMap
    // coverage: time inside outermost layer spans / timed wall (pass_s,
    // which leaves out the harness's own checks)
    def underLayer(s: Span): Boolean =
      s.parent >= 0 && (isLayer(byId(s.parent).name) || underLayer(byId(s.parent)))
    val top = spans.filter(s => isLayer(s.name) && !underLayer(s))
    val coverage = r.e2e.get("pass_s").fold(Double.NaN)(p => top.map(_.ms).sum / (p._1 * 1000))
    val self = spans.groupBy(_.name).map { case (name, calls) =>
      name -> calls.map(s => Trace.selfMs(s, children.getOrElse(s.id, Nil))).sum
    }
    val spill = charges.values.map(_.spillBytes).sum / 1048576.0
    // candidate rows of the similarity join: the widest join it executed
    val joins = r.layers.get("operators.jaccard_join.pairs").map { pairs =>
      val candidates = Trace.joinOutputRows("operators.jaccard_join").maxOption.getOrElse(0L)
      Map("operators.jaccard_join.candidates" -> candidates.toDouble,
        "operators.jaccard_join.yield" -> pairs / math.max(1L, candidates))
    }.getOrElse(Map.empty)
    Table(stats ++ r.layers ++ joins ++
      Map("spark.spill_mb" -> spill, "trace.coverage" -> coverage), coverage, self)
  }
}
