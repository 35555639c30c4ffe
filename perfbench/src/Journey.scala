package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, timestamp_seconds}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.api.GraftConfig
import graft.io.WriteBack
import graft.ml.{AnnotationHook, AnnotationStore}

/** `journey`: the served single-series Loud ML lifecycle, once per
  * registered model type, by one closed-loop HTTP client. Each journey
  * starts from a fresh copy of the generated bucket: create bucket and
  * model over HTTP, `_read` at two resolutions, `_train`, `_eval`,
  * `_forecast`, then live ticks (append the next hour's points, run the
  * scheduled `evalOnce` with an annotation hook, write the result back),
  * then delete. Requests each cover little data, so the job system and
  * per-job latency dominate. */
object Journey {
  val Types = Seq("seasonal", "holtwinters", "window_reconstructor", "autoencoder", "donut_vae")
  val TrainDays = 21
  val EvalDays = 3
  val Ticks = 2
  /** Seconds of timed work one round (every model type once) is sized for. */
  val RoundSeconds = 15

  private val http = HttpClient.newHttpClient()

  final class Client(base: String) {
    val waits = ArrayBuffer.empty[Double]
    val polls = ArrayBuffer.empty[Double]

    def call(method: String, path: String, body: String = ""): (Int, String) = {
      val req = HttpRequest.newBuilder(URI.create(base + path))
        .method(method, if (body.isEmpty) HttpRequest.BodyPublishers.noBody()
          else HttpRequest.BodyPublishers.ofString(body))
        .header("Content-Type", "application/json").build()
      val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }

    def expect(method: String, path: String, code: Int, body: String = ""): String = {
      val (c, b) = call(method, path, body)
      if (c != code) throw new IllegalStateException(s"$method $path -> $c: $b")
      b
    }

    /** POST a job-shaped request and poll it to a terminal state; the
      * result document, or an exception carrying the job's error. */
    def job(path: String): JValue = {
      val id = JsonMethods.parse(expect("POST", path, 202)) match {
        case JString(s) => s
        case other => throw new IllegalStateException(s"no job id: $other")
      }
      val t0 = System.nanoTime()
      var n = 0
      var doc: JValue = JNothing
      var state = "waiting"
      while (state == "waiting" || state == "running") {
        Thread.sleep(2)
        n += 1
        doc = JsonMethods.parse(expect("GET", s"/jobs/$id", 200))
        state = (doc \ "state").asInstanceOf[JString].s
      }
      waits += (System.nanoTime() - t0) / 1e6
      polls += n
      if (state != "done") throw new IllegalStateException(s"$path: job $state: ${doc \ "error"}")
      doc \ "result"
    }
  }

  private def q(params: (String, Any)*): String =
    params.map { case (k, v) =>
      s"$k=${java.net.URLEncoder.encode(v.toString, "UTF-8")}" }.mkString("?", "&", "")

  /** Model settings. The VAE trains a fixed number of epochs (patience =
    * epochs, no early stop), so every seed does the same training work. */
  private def settings(tpe: String, model: String, bucket: String): String =
    s"""{"name":"$model","type":"$tpe","default_bucket":"$bucket",""" +
      (if (tpe == "donut_vae") """"epochs":40,"patience":40,""" else "") +
      """"bucket_interval":3600,"interval":3600,"offset":30,"period":86400,""" +
      """"max_threshold":99.7,"min_threshold":68.0,""" +
      """"features":[{"name":"avg_value","metric":"avg","field":"value"}]}"""

  private def pointsFrame(spark: SparkSession, pts: Seq[Gen.Point]): DataFrame = {
    import spark.implicits._
    pts.map(p => (p.ts, p.value)).toDF("t", "value")
      .select(timestamp_seconds(col("t")).as("ts"), col("value"))
  }

  private def nums(v: JValue): Vector[Double] = v match {
    case JArray(xs) => xs.toVector.map {
      case JInt(x) => x.toDouble
      case JLong(x) => x.toDouble
      case JDouble(x) => x
      case JDecimal(x) => x.toDouble
      case _ => Double.NaN
    }
    case _ => Vector.empty
  }

  /** Per-step client latencies of the measured journeys, in ms. */
  final class Steps {
    val journey, read, train, eval, forecast, tick = ArrayBuffer.empty[Double]
  }

  def run(spark: SparkSession, seed: Long, seconds: Int, work: Path, r: Report): Unit = {
    val in = Gen.journey(seed, TrainDays, EvalDays, Ticks)
    val hist = in.series.points.filter(_.ts < in.evalTo)
    val template = work.resolve("template").toString
    pointsFrame(spark, hist).coalesce(1).write.parquet(template)
    val hourly = in.series.truth(Gen.Hour)
    val daily = Gen.Series(hist, Set.empty).truth(Gen.Day)
    val cfg = GraftConfig.fromJson(
      s"""{"storage":{"path":"${work.resolve("store")}"},"server":{"workers":1}}""")
    val (engine, api, addr) = GraftConfig.serve(spark, cfg, Some(0))
    val client = new Client(s"http://127.0.0.1:${addr.getPort}")
    val steps = new Steps
    val f1 = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    def recordF1(name: String, score: Double): Unit =
      f1.getOrElseUpdate(name, ArrayBuffer.empty) += score
    var seq = 0

    def journey(tpe: String, measured: Boolean, ticks: Int = Ticks): Unit = {
      seq += 1
      val (bucket, model, dir) = (s"b$seq", s"m$seq", work.resolve(s"j$seq"))
      copyTree(java.nio.file.Paths.get(template), dir.resolve("bucket"))
      def timed[T](into: ArrayBuffer[Double])(body: => T): T = {
        val (v, ms) = r.op(body)
        if (measured) into += ms
        v
      }
      val req = s"$tpe#$seq"
      // the journey's time leaves out the harness's output checks
      val t0 = System.nanoTime()
      val harness0 = r.harnessNs
      Trace.span("api.create", req) {
        timed(ArrayBuffer.empty) {
          client.expect("POST", "/buckets", 201,
            s"""{"name":"$bucket","type":"parquet","path":"${dir.resolve("bucket")}","timestamp_field":"ts"}""")
          client.expect("POST", "/models", 201, settings(tpe, model, bucket))
        }
      }
      // _read at two resolutions, checked against the generator's truth
      Seq((Gen.Hour, "1h", in.evalTo - 2 * Gen.Day, hourly),
          (Gen.Day, "1d", Gen.T0, daily)).foreach { case (iv, ivs, from, truth) =>
        val doc = Trace.span("api.read", req) {
          timed(steps.read)(client.job(s"/buckets/$bucket/_read" + q(
            "bucket_interval" -> ivs, "from" -> from, "to" -> in.evalTo,
            "features" -> "count(value);sum(value)")))
        }
        if (measured) r.harness {
          val ts = nums(doc \ "timestamps").map(_.toLong)
          val want = (from until in.evalTo by iv).map(b => truth(("", b)))
          r.check(s"_read $ivs counts and sums match the generator",
            ts == (from until in.evalTo by iv).toVector &&
              nums(doc \ "observed" \ "count_value") == want.map(_._1.toDouble) &&
              nums(doc \ "observed" \ "sum_value") == want.map(_._2),
            s"$tpe: _read $ivs differs from the generated buckets")
        }
      }
      Trace.span("api.train", req) {
        timed(steps.train)(client.job(s"/models/$model/_train" + q("from" -> Gen.T0, "to" -> in.trainTo)))
      }
      val scored = Trace.span("api.eval", req) {
        timed(steps.eval)(client.job(s"/models/$model/_eval" + q("from" -> in.trainTo, "to" -> in.evalTo)))
      }
      if (measured) r.harness {
        val rows = scored.children.map(b => (
          (b \ "timestamp").asInstanceOf[JInt].num.toLong,
          nums(JArray(List(b \ "stats" \ "score"))).head))
        /** F1 of the buckets flagged in [from, to) against the planted ones. */
        def f1Of(range: (Long, Long)): (Double, String) = {
          val (from, to) = range
          val inRange = rows.filter { case (b, _) => b >= from && b < to }
          val truth = in.series.anomalies.map(_._2).filter(b => b >= from && b < to)
          val tp = inRange.count { case (b, s) => s >= 99.7 && truth(b) }
          val fp = inRange.count { case (b, s) => s >= 99.7 && !truth(b) }
          val fn = truth.size - tp
          val score = 2.0 * tp / (2.0 * tp + fp + fn)
          (score, f"$tpe: F1 $score%.3f over ${inRange.size} buckets (tp=$tp fp=$fp fn=$fn)")
        }
        // the reference floor (tests/test_donut.py:576-584), on the
        // reference placement: the shift at the end of the eval range
        val (ref, refDetail) = f1Of(in.refRange)
        recordF1(s"f1.$tpe", ref)
        r.check(s"_eval F1 >= 0.75 on the end-of-range shift ($tpe)",
          rows.size == EvalDays * 24 && ref >= 0.75, refDetail)
        // the same floor on the mid-range shift and the clean buckets
        // after it; donut_vae flags those buckets, a known defect that is
        // recorded on every run instead of failing it
        val (mid, midDetail) = f1Of(in.midRange)
        recordF1(s"f1_mid.$tpe", mid)
        r.finding(s"_eval F1 >= 0.75 on the mid-range shift ($tpe)", mid >= 0.75, midDetail)
      }
      val fc = Trace.span("api.forecast", req) {
        timed(steps.forecast)(client.job(s"/models/$model/_forecast" +
          q("from" -> in.evalTo, "to" -> (in.evalTo + Gen.Day))))
      }
      if (measured) r.harness {
        val v = nums(fc \ "observed" \ "value")
        r.check(s"_forecast covers the horizon ($tpe)",
          v.size == 24 && v.forall(x => !x.isNaN && !x.isInfinite),
          s"$tpe: forecast returned ${v.size} values")
      }
      val hook = new AnnotationHook(new AnnotationStore)
      (0 until ticks).foreach { i =>
        val b = in.tickFrom + i * Gen.Hour
        val out = Trace.span("journey.tick", req) {
          timed(steps.tick) {
            Trace.span("sources.append") {
              engine.buckets(bucket).writePoints(
                pointsFrame(spark, in.series.points.filter(p => p.ts >= b && p.ts < b + Gen.Hour)))
            }
            val scanned = Trace.span("streaming.tick") {
              engine.startScheduled(model, hooks = Seq(hook)).evalOnce(b + Gen.Hour + 30)
            }
            Trace.span("io.writeback") {
              WriteBack.save(WriteBack.predictionFrame(
                scanned.withColumnRenamed("avg_value", "observed"), "avg_value", model),
                dir.resolve("writeback").toString)
            }
            scanned.collect()
          }
        }
        if (measured) r.harness {
          val (n, s) = hourly(("", b))
          r.check("tick scores exactly the appended bucket",
            out.length == 1 && out(0).getAs[Long]("bucket") == b &&
              math.abs(out(0).getAs[Double]("avg_value") - s / n) < 1e-9,
            s"$tpe: tick at $b returned ${out.map(_.toString).mkString(", ")}")
        }
      }
      Trace.span("api.delete", req) {
        timed(ArrayBuffer.empty) {
          client.expect("DELETE", s"/models/$model", 200)
          client.expect("DELETE", s"/buckets/$bucket", 200)
        }
      }
      val journeyMs = (System.nanoTime() - t0 - (r.harnessNs - harness0)) / 1e6
      if (measured) steps.journey += journeyMs
      Main.log(r, f"journey $req ${journeyMs / 1000}%.2fs")
      Main.deleteTree(dir)
    }

    try {
      // warm-up: one untimed journey, so session, class loading, JIT and
      // first-read costs are paid before timing starts
      Main.log(r, "server up")
      Main.untraced(journey(Types.head, measured = false, ticks = 0))
      client.waits.clear(); client.polls.clear()
      r.attempted = 0
      val setup = (System.nanoTime() - r.startNs) / 1e9
      val rounds = math.max(1, seconds / RoundSeconds)
      Trace.span("pass") {
        (0 until rounds).foreach(_ => Types.foreach(t => journey(t, measured = true)))
      }
      // the timed wall: the journeys themselves, without the copies of the
      // bucket template and the deletes between them
      val passS = steps.journey.sum / 1000

      def p50(xs: collection.Seq[Double]) = Stats.median(xs)
      r.metric("setup_s", setup, "s")
      r.metric("journey_s", p50(steps.journey) / 1000, "s", steps.journey.size)
      r.metric("read_p50_ms", p50(steps.read), "ms", steps.read.size)
      r.metric("train_p50_ms", p50(steps.train), "ms", steps.train.size)
      r.metric("eval_p50_ms", p50(steps.eval), "ms", steps.eval.size)
      r.metric("forecast_p50_ms", p50(steps.forecast), "ms", steps.forecast.size)
      r.metric("tick_p50_ms", p50(steps.tick), "ms", steps.tick.size)
      // a run has too few ticks for a tail; compare.py pools them across
      // runs into tick_tail_ms
      r.samples("tick_ms") = steps.tick.toSeq
      f1.foreach { case (name, xs) => r.metric(name, p50(xs), "ratio", xs.size) }
      r.layers("api.job_wait_ms") = p50(client.waits)
      r.layers("api.polls_per_job") = p50(client.polls)
      r.e2e("setup_s") = (setup, "s")
      r.e2e("pass_s") = (passS, "s")
      r.e2e("build_s") = (steps.train.sum / 1000, "s")
      r.e2e("serve_s") = (passS - steps.train.sum / 1000, "s")
    } finally api.stop()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    } finally walk.close()
  }
}
