package graft.ml

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The shared keyed-fit path ([[KeyedFit.perKey]]) under AQE at
  * `local[4]`: the fleet fits spread over more than one task (AQE
  * coalesced the old `groupByKey` shuffle into one), and every key's
  * state still equals its solo fit bit for bit — including a key tuple
  * with a null element, with a degenerate key skipped, not fatal. */
class KeyedFitSpec extends graft.SparkSpec {
  private val H = 3600L
  private val keys = Seq("dc", "host")
  private type Key = (String, String)

  /** Six keys, each its own daily shape with a gap every 17 buckets;
    * one key tuple has a null host. */
  private val fleet: Seq[(Key, Seq[(Long, java.lang.Double)])] =
    Seq(("eu", "web1"), ("eu", "web2"), ("us", "web1"), ("us", "db1"),
        ("ap", "web3"), ("eu", null)).zipWithIndex.map { case (k, i) =>
      val rnd = new scala.util.Random(i)
      k -> (0 until 120).map { t =>
        val v = (i + 1) * math.sin(2 * math.Pi * t / 24.0) + i +
          rnd.nextGaussian() * 0.2
        (t * H, if (t % 17 == 5) null else java.lang.Double.valueOf(v))
      }
    }
  /** Two buckets: shorter than any window span, so degenerate for the
    * neural fits. */
  private val shorty: Key = ("ap", "shorty")

  private lazy val df: DataFrame = {
    import spark.implicits._
    val short = Seq((0L, java.lang.Double.valueOf(1.0)),
      (H, java.lang.Double.valueOf(2.0)))
    (fleet :+ (shorty -> short)).flatMap { case ((dc, host), s) =>
      s.map { case (b, v) => (dc, host, b, v) }
    }.toDF("dc", "host", "bucket", "value")
  }

  /** The series the solo `train` of key `k` fits. */
  private def solo(k: Key): Seq[(Long, Option[Double])] = {
    val host = if (k._2 == null) col("host").isNull else col("host") === k._2
    HoltWinters.collectSeries(df.filter(col("dc") === k._1 && host), "value")
  }

  /** Counts the tasks of one job group that read shuffle records: the
    * tasks that ran at least one key's fit. */
  private class FitTasks(group: String) extends SparkListener {
    private val stages = TrieMap.empty[Int, Unit]
    private val markerJobs = TrieMap.empty[Int, Unit]
    val tasks = new AtomicInteger
    @volatile var markerDone = false
    override def onJobStart(j: SparkListenerJobStart): Unit =
      Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
        case Some(`group`) => j.stageIds.foreach(stages.put(_, ()))
        case Some(g) if g == group + "-marker" => markerJobs.put(j.jobId, ())
        case _ =>
      }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (stages.contains(t.stageId) && t.taskMetrics != null &&
          t.taskMetrics.shuffleReadMetrics.recordsRead > 0)
        tasks.incrementAndGet()
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      if (markerJobs.contains(j.jobId)) markerDone = true
  }

  /** Collects `train` with AQE on; returns its rows by key, the number
    * of distinct `spark_partition_id()` values over them, and the
    * number of fit tasks the listener saw. */
  private def probe(name: String)(train: => DataFrame)
      : (Map[Key, Row], Long, Int) = {
    val sc = spark.sparkContext
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    val group = s"keyed-fit-$name"
    val listener = new FitTasks(group)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val states = train.withColumn("pid", spark_partition_id()).collect()
      // listener events arrive in order: once a later marker job's end
      // is seen, every task end of the probed jobs has been counted
      sc.setJobGroup(group + "-marker", group)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!listener.markerDone && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(listener.markerDone, "listener never saw the marker job")
      val byKey = states.map(r => (r.getString(0), r.getString(1)) -> r).toMap
      assert(byKey.size == states.length, s"$name: one state per key")
      (byKey, states.map(_.getAs[Int]("pid")).distinct.length.toLong,
        listener.tasks.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }

  private def assertSpread(name: String, pids: Long, tasks: Int): Unit = {
    info(s"$name: states in $pids partitions, $tasks fit tasks")
    assert(spark.sparkContext.defaultParallelism == 4)
    assert(pids > 1, s"$name: states in $pids partition(s)")
    assert(tasks > 1, s"$name: $tasks fit task(s)")
  }

  /** A neural fit's state row equals the solo fit's fields exactly. */
  private def assertNeural(k: Key, st: Row, weights: Seq[Double],
      sigma: Double, mu: Double, sd: Double, slotMean: Seq[Double],
      slotSig: Seq[Double]): Unit = {
    assert(st.getSeq[Double](st.fieldIndex("weights")) == weights,
      s"$k weights")
    assert(st.getAs[Double]("sigma") == sigma, s"$k sigma")
    assert(st.getAs[Double]("mu") == mu, s"$k mu")
    assert(st.getAs[Double]("sd") == sd, s"$k sd")
    assert(st.getSeq[Double](st.fieldIndex("slot_mean")) == slotMean,
      s"$k slot_mean")
    assert(st.getSeq[Double](st.fieldIndex("slot_sigma")) == slotSig,
      s"$k slot_sigma")
  }

  test("fleet AE: fits spread over more than one task under AQE; every " +
      "key equals its solo fit bit for bit; a degenerate key skips") {
    val p = AutoencoderReconstructor.Params(bucketInterval = H,
      hidden = 2, epochs = 5)
    val (states, pids, tasks) = probe("ae")(
      FleetAutoencoder.train(df, "value", keys, p))
    assertSpread("ae", pids, tasks)
    assert(states.keySet == fleet.map(_._1).toSet, states.keySet)
    for ((k, _) <- fleet) {
      val f = AutoencoderReconstructor.fitSeries(solo(k), p)
      assertNeural(k, states(k), f.w.flatten.toSeq, f.sigma, f.mu, f.sd,
        f.slotMean.toSeq, f.slotSig.toSeq)
    }
  }

  test("fleet VAE: fits spread over more than one task under AQE; every " +
      "key equals its solo fit bit for bit; a degenerate key skips") {
    val p = DonutVae.Params(bucketInterval = H, epochs = 3, patience = 3)
    val (states, pids, tasks) = probe("vae")(
      FleetDonutVae.train(df, "value", keys, p))
    assertSpread("vae", pids, tasks)
    assert(states.keySet == fleet.map(_._1).toSet, states.keySet)
    for ((k, _) <- fleet) {
      val f = DonutVae.fitSeries(solo(k), p)
      assertNeural(k, states(k), f.net.flat.toSeq, f.sigma, f.mu, f.sd,
        f.slotMean.toSeq, f.slotSig.toSeq)
    }
  }

  test("fleet Holt-Winters: fits spread over more than one task under " +
      "AQE; every key, the short one included, equals its solo fit") {
    val p = HoltWintersParams(bucketInterval = H)
    val (states, pids, tasks) = probe("hw")(
      FleetHoltWinters.train(df, "value", keys, p))
    assertSpread("hw", pids, tasks)
    val all = fleet.map(_._1) :+ shorty
    assert(states.keySet == all.toSet, states.keySet)
    for (k <- all) {
      val f = HoltWinters.fit(solo(k), p)
      val st = states(k)
      assert(st.getAs[Double]("level") == f.level, s"$k level")
      assert(st.getAs[Double]("trend") == f.trend, s"$k trend")
      assert(st.getAs[Double]("sigma") == f.sigma, s"$k sigma")
      assert(st.getAs[Long]("last_bucket") == f.lastBucket, s"$k last")
      assert(st.getSeq[Double](st.fieldIndex("season")) == f.season.toSeq,
        s"$k season")
    }
  }
}
