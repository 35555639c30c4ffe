package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, timestamp_seconds}

import graft.ml.{AutoencoderReconstructor, DonutVae, FleetAutoencoder, FleetDonutVae,
  FleetHoltWinters, FleetScan, FleetSeasonal, HoltWintersParams, SeasonalModelParams}
import graft.operators.{Feature, TimesQuery}

/** `fleet`: K generated series keyed by `host`, dense points over about a
  * month. One keyed bucketization of the training range, the four keyed
  * fits, then W daily eval windows, each a keyed bucketize, a keyed
  * predict, a keyed anomaly scan resuming from the saved state, and a
  * state save. Scan, shuffle and executor-side per-key fitting dominate;
  * there is no HTTP or job layer. */
object Fleet {
  val Hosts = 16
  val PointsPerBucket = 6
  val TrainDays = 28
  /** Seconds of timed work one eval window is sized for. */
  val WindowSeconds = 5
  val Keys = Seq("host")
  private val seasonal = SeasonalModelParams(Gen.Hour)
  private val hw = HoltWintersParams(Gen.Hour)
  private val ae = AutoencoderReconstructor.Params(bucketInterval = Gen.Hour)
  // patience = epochs: no early stop, so every seed trains the same epochs
  private val vae = DonutVae.Params(bucketInterval = Gen.Hour, epochs = 10, patience = 10)
  private val features = Seq(
    Feature("avg_value", "avg", "value"),
    Feature("count_value", "count", "value"),
    Feature("sum_value", "sum", "value"))

  def run(spark: SparkSession, seed: Long, seconds: Int, work: Path, r: Report): Unit = {
    val windows = math.max(3, seconds / WindowSeconds)
    val in = Gen.fleet(seed, Hosts, PointsPerBucket, TrainDays, windows)
    val truth = in.series.truth(Gen.Hour)
    Main.log(r, "generated")
    val path = work.resolve("points").toString
    locally {
      import spark.implicits._
      in.series.points.map(p => (p.key, p.ts, p.value)).toDF("host", "t", "value")
        .select(col("host"), timestamp_seconds(col("t")).as("ts"), col("value"))
        .repartition(4).write.parquet(path)
    }
    val points = spark.read.parquet(path)
    Main.log(r, s"${in.series.points.size} points written")
    val stateRoot = work.resolve("state").toString

    def bucketize(from: Long, to: Long): DataFrame =
      Trace.span("operators.times_query") {
        TimesQuery.run(spark, points, "ts", Gen.Hour, from, to, features, seriesKeys = Keys)
          .localCheckpoint(true)
      }

    /** Keyed buckets must equal the generator's counts and sums exactly. */
    def checkBuckets(b: DataFrame, from: Long, to: Long, what: String): Unit = r.harness {
      val got = b.select(col("host"), col("bucket"), coalesce(col("count_value"), lit(0))
        .cast("long"), col("sum_value")).collect()
      val bad = got.filterNot { row =>
        val key = (row.getString(0), row.getLong(1))
        truth.get(key) match {
          case Some((n, s)) => row.getLong(2) == n && row.getDouble(3) == s
          case None => row.getLong(2) == 0L
        }
      }
      val want = truth.count { case ((_, t), _) => t >= from && t < to }
      val present = got.count(_.getLong(2) > 0)
      r.check(s"keyed bucketization matches the generator ($what)",
        bad.isEmpty && present == want,
        s"${bad.length} wrong buckets, ${present} non-empty of $want expected")
    }

    def fits(b: DataFrame): Seq[(String, DataFrame)] = Seq(
      "seasonal" -> (() => FleetSeasonal.train(b, "avg_value", Keys, seasonal)),
      "holtwinters" -> (() => FleetHoltWinters.train(b, "avg_value", Keys, hw)),
      "autoencoder" -> (() => FleetAutoencoder.train(b, "avg_value", Keys, ae)),
      "donut_vae" -> (() => FleetDonutVae.train(b, "avg_value", Keys, vae))
    ).map { case (t, fit) =>
      t -> Trace.span(s"ml.fit.$t")(fit().localCheckpoint(true))
    }

    /** One eval window; returns its keyed buckets, for the check. */
    def window(day: Long, states: DataFrame): DataFrame = {
      // one day scored, with the day before as window context
      val b = bucketize(day - Gen.Day, day + Gen.Day)
      val scored = Trace.span("ml.predict") {
        FleetDonutVae.predict(b, states, "avg_value", Keys, vae)
          .filter(col("bucket") >= day)
          .withColumn("score", coalesce(col("score"), lit(0.0)))
          .localCheckpoint(true)
      }
      Trace.span("ml.fleet_scan") {
        val prior = FleetScan.loadState(spark, stateRoot, "fleet", Keys)
        val (scanned, next) = FleetScan.scanWithState(scored, prior, Keys)
        scanned.filter(col("anomaly").isNotNull).count()
        FleetScan.saveState(next, stateRoot, "fleet")
      }
      b
    }

    // warm-up: the four fits on a two-host, three-day slice, so the fit
    // kernels are compiled before timing starts (cold fits vary too much
    // from run to run to gate on)
    Main.untraced {
      fits(TimesQuery.run(spark, points.filter(col("host").isin(in.hosts.take(2): _*)),
        "ts", Gen.Hour, in.trainTo - 3 * Gen.Day, in.trainTo, features, seriesKeys = Keys)
        .localCheckpoint(true))
    }
    val setup = (System.nanoTime() - r.startNs) / 1e9
    Main.log(r, "set up")

    val windowMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var trainMs = 0.0
    var stateRows = 0L
    val passT0 = System.nanoTime()
    val harness0 = r.harnessNs
    Trace.span("pass") {
      val (train, bucketMs) = r.op(bucketize(Gen.T0, in.trainTo))
      checkBuckets(train, Gen.T0, in.trainTo, "training range")
      val (states, fitMs) = r.op(fits(train))
      trainMs = fitMs
      Main.log(r, f"bucketize ${bucketMs / 1000}%.2fs, fits ${fitMs / 1000}%.2fs")
      // Every fit trains every host, except that the two neural fits skip
      // a degenerate series instead of failing: they may leave out the
      // short host, and no other.
      val all = in.hosts.toSet
      var skipped = 0L
      r.harness(states.foreach { case (t, s) =>
        val got = s.select("host").distinct().collect().map(_.getString(0)).toSet
        val neural = t == "autoencoder" || t == "donut_vae"
        if (neural) skipped += (all -- got).size
        r.check(s"keyed fit trains every host ($t)",
          got == all || (neural && got == all - in.shortHost),
          s"$t left out ${(all -- got).toSeq.sorted.mkString(", ")}" +
            s" and trained unknown ${(got -- all).toSeq.sorted.mkString(", ")}")
      })
      r.layers("ml.fit.keys_skipped_ratio") = skipped.toDouble / (2 * in.hosts.size)
      (0 until windows).foreach { w =>
        val day = in.trainTo + w * Gen.Day
        val (b, ms) = r.op(Trace.span("fleet.window")(window(day, states.last._2)))
        windowMs += ms
        Main.log(r, f"window $w ${ms / 1000}%.2fs")
        checkBuckets(b.filter(col("bucket") >= day), day, day + Gen.Day, "eval window")
        stateRows = r.harness(FleetScan.loadState(spark, stateRoot, "fleet", Keys).count())
      }
    }
    // the timed wall leaves out the output checks
    val passS = (System.nanoTime() - passT0 - (r.harnessNs - harness0)) / 1e9
    r.check("fleet state holds one row per host", stateRows == in.hosts.size,
      s"$stateRows state rows for ${in.hosts.size} hosts")
    r.layers("ml.fleet_scan.state_rows") = stateRows.toDouble
    r.metric("setup_s", setup, "s")
    r.metric("fleet_train_s", trainMs / 1000, "s")
    r.metric("fleet_window_p50_ms", Stats.median(windowMs.toSeq), "ms", windowMs.size)
    r.e2e("setup_s") = (setup, "s")
    r.e2e("pass_s") = (passS, "s")
    r.e2e("build_s") = (trainMs / 1000, "s")
    r.e2e("serve_s") = (windowMs.sum / 1000, "s")
  }
}
