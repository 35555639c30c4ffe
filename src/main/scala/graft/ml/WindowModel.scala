package graft.ml

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Stats

/** The one window-model core behind the two neural models,
  * [[AutoencoderReconstructor]] and [[DonutVae]], solo and keyed
  * ([[FleetAutoencoder]], [[FleetDonutVae]]). The reference trains one
  * such model per series (`loudml/worker.py`). The two models differ
  * only in their parts, which a model hands in as arguments:
  *  - `fit`: the solo fit of a sorted bucketized series;
  *  - `tooShort`: its degenerate-key test on a series' bucket count
  *    (an empty or all-null series is degenerate for every model);
  *  - `kernel`: decodes a state once and returns the one-step predictor
  *    of the window ending at a bucket.
  *
  * Everything around those parts is written here once: the slot
  * statistics and standardization ([[WindowModel.standardize]]), the
  * state and its JSON form ([[WindowModel.State]], [[WindowModel.loadState]]),
  * the solo scorer, the keyed trainer and scorer, and the forecast roll
  * ([[WindowModel.Solo]]).
  *
  * Two physical shapes, chosen by the input:
  *  - solo (no keys): ONE global ordered window (`Window.orderBy`, a
  *    single-partition sort; a solo series is model-sized, one
  *    bucketized series fits one task) packs each row's last `span`
  *    rows, then a narrow map predicts each row with the decoded state
  *    in the closure;
  *  - keyed: training runs through [[KeyedFit.perKey]] (a range
  *    exchange into `defaultParallelism` partitions, so the fits spread
  *    over every core); scoring cogroups each key's points with its one
  *    state row, decodes the state once per key, and replays the same
  *    kernel over the sorted series. Per-key states and scores are
  *    bit-identical to fitting and scoring that series alone.
  */
private[ml] final class WindowModel(
    val p: WindowModel.Shape,
    fit: Seq[(Long, Option[Double])] => WindowModel.State,
    tooShort: Int => Boolean,
    kernel: WindowModel.State => WindowModel.Kernel) extends Serializable {
  import WindowModel._

  /** The solo fit of one series, with its profile frame. */
  def trainSolo(bucketed: DataFrame, valueCol: String): (DataFrame, State) = {
    val st = fit(HoltWinters.collectSeries(bucketed, valueCol))
    (profileFrame(bucketed.sparkSession, st), st)
  }

  /** Solo scoring: the window pass with `predicted`, ±3σ bands and the
    * anomaly score. The series should extend span−1 buckets back past
    * the scoring range for full context (donut.py:1210-1217). */
  def predictSolo(st: State, bucketed: DataFrame, valueCol: String,
      anomalyType: String): DataFrame =
    mapWindows(bucketed, valueCol, p.span, Seq("predicted")) { () =>
      val predict = kernel(st)
      (b, win) => Seq(predict(b, win))
    }
      .withColumn("lower", col("predicted") - lit(3.0 * st.sigma))
      .withColumn("upper", col("predicted") + lit(3.0 * st.sigma))
      .withColumn("score", Stats.anomalyScore(
        col(valueCol), col("predicted"), col("upper"), anomalyType))
      .drop("__win")

  /** Train one state per key of a bucketized frame `(keys…, bucket,
    * valueCol)`; gaps may be missing rows or null values. Returns
    * `(keys…, weights, sigma, mu, sd, slot_mean, slot_sigma)`, one row
    * per series.
    *
    * A degenerate series (routine in a real million-key fleet) must not
    * abort every OTHER key's fit: the solo fit's preconditions are
    * checked explicitly per key, not by catching exceptions (a throw
    * from inside the fit is a real bug and still fails the job), and
    * the key is skipped, like the reference's one-job-per-series
    * isolation. Skips are counted in the named accumulator
    * `skippedName`; that count is APPROXIMATE (at-least-once: task
    * retries, speculation and re-evaluation of the returned lazy frame
    * re-add, and each call registers a fresh accumulator). When an
    * exact count matters, derive it as (distinct input keys) − (output
    * row count). */
  def trainKeyed(bucketed: DataFrame, valueCol: String, keys: Seq[String],
      skippedName: String): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    val spark = bucketed.sparkSession
    import spark.implicits._
    val skipped = spark.sparkContext.longAccumulator(skippedName)
    val states = KeyedFit.perKey(KeyedFit.typedPoints(bucketed, valueCol, keys)) {
      (key, series) =>
        if (tooShort(series.size) || series.forall(_._2.isEmpty)) {
          skipped.add(1L); None
        } else Some(fit(series).copy(k = key))
    }.toDF()
    states.select(keyCols(keys) ++
      Seq(col("weights"), col("sigma"), col("mu"), col("sd"),
        col("slot_mean"), col("slot_sigma")): _*)
  }

  /** Score a bucketized frame against keyed states: cogroup by key,
    * decode each state once, replay the solo window pass over the
    * sorted series, score like the solo model. Output: `(keys…, bucket,
    * valueCol, predicted, lower, upper, score)`; keys without a state
    * emit nothing. Key columns are matched as STRINGS (tags in this
    * domain, `loudml/model.py` match_all). */
  def predictKeyed(bucketed: DataFrame, states: DataFrame, valueCol: String,
      keys: Seq[String], anomalyType: String): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    val spark = bucketed.sparkSession
    import spark.implicits._
    val pts = KeyedFit.typedPoints(bucketed, valueCol, keys).groupByKey(_.k)
    val sts = states.select(
        array(keys.map(col(_).cast("string")): _*).as("k"),
        col("weights").cast("array<double>").as("weights"),
        col("sigma").cast("double").as("sigma"),
        col("mu").cast("double").as("mu"),
        col("sd").cast("double").as("sd"),
        col("slot_mean").cast("array<double>").as("slot_mean"),
        col("slot_sigma").cast("array<double>").as("slot_sigma"))
      .as[State].groupByKey(_.k)
    val span = p.span
    val scored = pts.cogroup(sts) { (key, points, stRows) =>
      stRows.nextOption() match {
        case None => Iterator.empty
        case Some(st) =>
          val predict = kernel(st)
          val series = points.map(r => (r.bucket, r.v)).toVector.sortBy(_._1)
          series.indices.iterator.map { i =>
            val (b, v) = series(i)
            // last span ROWS ending here: the solo pass's
            // rowsBetween(-(span-1), 0) on a sorted series
            val win = series.slice(math.max(0, i - span + 1), i + 1)
            Pred(key, b, v, predict(b, win), st.sigma)
          }
      }
    }.toDF()
    scored.select(keyCols(keys) ++
        Seq(col("bucket"), col("value").as(valueCol), col("predicted"),
          col("sigma")): _*)
      .withColumn("lower", col("predicted") - lit(3.0) * col("sigma"))
      .withColumn("upper", col("predicted") + lit(3.0) * col("sigma"))
      .withColumn("score", Stats.anomalyScore(
        col(valueCol), col("predicted"), col("upper"), anomalyType))
      .drop("sigma")
  }
}

private[ml] object WindowModel {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  /** The one-step predictor of the window ending at a bucket: `(endBucket,
    * window rows as (bucket, value))` to the de-standardized prediction. */
  type Kernel = (Long, Iterable[(Long, Option[Double])]) => Double

  /** The settings every window model has. */
  trait Shape {
    def bucketInterval: Long
    def period: Long
    def span: Int
    def json: String
    def periodBuckets: Int = (period / bucketInterval).toInt
    def slotOf(bucket: Long): Int =
      (math.floorMod(bucket, period) / bucketInterval).toInt
  }

  /** A fitted window model: flat weights, residual σ, the global
    * standardization `(mu, sd)` and the per-slot standardized profile.
    * `k` is the string-cast key tuple of a keyed state, empty for a
    * solo model. */
  final case class State(k: Seq[String], weights: Seq[Double],
      sigma: Double, mu: Double, sd: Double,
      slot_mean: Seq[Double], slot_sigma: Seq[Double])

  /** One scored row of the keyed scorer. */
  final case class Pred(k: Seq[String], bucket: Long,
      value: Option[Double], predicted: Double, sigma: Double)

  final case class Standardized(mu: Double, sd: Double,
      slotMean: Array[Double], slotSig: Array[Double])

  /** The opening of every window-model fit: the global standardization
    * and the per-slot standardized `(mean, σ)`, which are the
    * imputation source, the abnormal-context band and the forecast
    * seed. */
  def standardize(series: Seq[(Long, Option[Double])], p: Shape): Standardized = {
    require(series.nonEmpty, "no data to train on")
    val obs = series.flatMap(_._2)
    require(obs.nonEmpty, "no observations to train on")
    val mu = obs.sum / obs.size
    val sd0 = math.sqrt(obs.map(v => (v - mu) * (v - mu)).sum / obs.size)
    val sd = if (sd0 == 0.0) 1.0 else sd0 // σ=0→1 guard (donut.py:644-650)
    val bySlot = series.collect { case (b, Some(v)) => (p.slotOf(b), (v - mu) / sd) }
      .groupBy(_._1).map { case (s, xs) =>
        val vs = xs.map(_._2)
        val m = vs.sum / vs.size
        val sg = math.sqrt(vs.map(v => (v - m) * (v - m)).sum / vs.size)
        s -> (m, if (sg == 0.0) 1e-6 else sg)
      }
    val P = p.periodBuckets
    Standardized(mu, sd,
      Array.tabulate(P)(s => bySlot.get(s).map(_._1).getOrElse(0.0)),
      Array.tabulate(P)(s => bySlot.get(s).map(_._2).getOrElse(1.0)))
  }

  /** The `(slot, mu, sigma)` profile frame a solo model persists. */
  def profileFrame(spark: SparkSession, st: State): DataFrame = {
    import spark.implicits._
    st.slot_mean.indices
      .map(s => (s.toLong, st.slot_mean(s), st.slot_sigma(s)))
      .toDF("slot", "mu", "sigma")
  }

  /** The solo state a stored model's settings and profile frame hold. */
  def loadState(profile: DataFrame, settingsJson: String): State = {
    val j = JsonMethods.parse(settingsJson)
    val weights = (j \ "weights") match {
      case JArray(ws) => ws.flatMap(jNum).toIndexedSeq
      case _ => throw new IllegalArgumentException("stored model has no weights")
    }
    val sigma = jNum(j \ "sigma").getOrElse(
      throw new IllegalArgumentException("stored model has no sigma"))
    val prof = profile.orderBy("slot").collect()
    State(Nil, weights, sigma, jNum(j \ "mu").getOrElse(0.0),
      jNum(j \ "sd").getOrElse(1.0), prof.map(_.getDouble(1)).toIndexedSeq,
      prof.map(_.getDouble(2)).toIndexedSeq)
  }

  /** The solo window pass: ONE global ordered window packs each row's
    * last `span` rows into `__win`; `row`, built once per partition,
    * maps each `(endBucket, window)` to the values of the `out`
    * columns. `__win` stays on the result; the caller drops it. */
  def mapWindows(bucketed: DataFrame, valueCol: String, span: Int,
      out: Seq[String])(
      row: () => (Long, Seq[(Long, Option[Double])]) => Seq[Double]): DataFrame = {
    val w = Window.orderBy("bucket").rowsBetween(-(span - 1), 0)
    val packed = bucketed
      .withColumn("__win", collect_list(struct(
        col("bucket").as("b"), col(valueCol).cast("double").as("v"))).over(w))
    val outSchema = StructType(packed.schema.fields ++
      out.map(StructField(_, DoubleType, nullable = true)))
    val winIdx = packed.schema.fieldIndex("__win")
    val bIdx = packed.schema.fieldIndex("bucket")
    packed.mapPartitions { it =>
      val f = row()
      it.map { r =>
        val win = r.getSeq[Row](winIdx).map(e => (e.getLong(0),
          if (e.isNullAt(1)) None else Some(e.getDouble(1))))
        Row.fromSeq(r.toSeq ++ f(r.getLong(bIdx), win))
      }
    }(Encoders.row(outSchema))
  }

  private def keyCols(keys: Seq[String]) =
    keys.zipWithIndex.map { case (k, i) => col("k")(i).as(k) }

  /** The solo [[TrainedModel]] of a window model. A subclass decodes
    * `state` for its own members and gives the one forecast step. */
  abstract class Solo(val profile: DataFrame, private[ml] val state: State,
      model: WindowModel) extends TrainedModel {
    val sigma: Double = state.sigma
    val mu: Double = state.mu
    val sd: Double = state.sd

    /** The standardized prediction at `bucket` after `ctx`, the last
      * span−1 standardized values, with the bucket itself imputed. */
    protected def next(bucket: Long, ctx: Array[Double]): Double

    def settingsJson: String = {
      val base = model.p.json.stripSuffix("}")
      val flat = state.weights.mkString(",")
      s"""$base,"weights":[$flat],"sigma":$sigma,"mu":$mu,"sd":$sd}"""
    }

    def predict(bucketed: DataFrame, valueCol: String,
        anomalyType: String = "low_high"): DataFrame =
      model.predictSolo(state, bucketed, valueCol, anomalyType)

    def forecast(spark: SparkSession, from: Long, to: Long): DataFrame =
      forecastBands(spark, from, to, z = 3.0, noisePerStep = 0.0)

    def forecastCI(spark: SparkSession, from: Long, to: Long,
        percentInterval: Double, percentNoise: Double): DataFrame =
      forecastBands(spark, from, to,
        z = Stats.normPpf(1.0 - (1.0 - percentInterval) / 2.0),
        noisePerStep = percentNoise * model.p.bucketInterval.toDouble / 86400.0)

    /** Iterative roll (donut.py:1333-1475): the window slides forward
      * appending each prediction, a driver loop over O(horizon) steps.
      * The context is seeded with slot means: the trait's
      * no-observation forecast contract (the reference forecasts from
      * observed history; the seed is its apply_defaults slot mean). */
    private def forecastBands(spark: SparkSession, from: Long, to: Long,
        z: Double, noisePerStep: Double): DataFrame = {
      import spark.implicits._
      val p = model.p
      val span = p.span
      val buf = scala.collection.mutable.ArrayBuffer.tabulate(span - 1)(
        j => state.slot_mean(p.slotOf(from - (span - 1 - j) * p.bucketInterval)))
      val rows = Iterator.iterate(from)(_ + p.bucketInterval)
        .takeWhile(_ < to).zipWithIndex.map { case (b, h) =>
          val y = next(b, buf.takeRight(span - 1).toArray)
          buf += y
          val pred = mu + sd * y
          val half = z * sigma + noisePerStep * h * math.abs(pred)
          (b, pred, pred - half, pred + half)
        }.toSeq
      rows.toDF("bucket", "predicted", "lower", "upper").orderBy("bucket")
    }
  }
}
