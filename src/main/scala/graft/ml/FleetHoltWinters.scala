package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Holt-Winters for a FLEET of series — one (level, trend, seasonal
  * vector, σ) state per key, trained distributed. Completes the fleet
  * story for the third model type the same way [[FleetSeasonal]] does
  * for the per-slot profile: the reference trains one model per job per
  * series (`loudml/worker.py`); here every key's recurrence runs in one
  * Spark job.
  *
  * Scale shape: the recurrence is inherently sequential PER KEY but
  * independent ACROSS keys, so training goes through the shared
  * keyed-fit path ([[KeyedFit.perKey]]): one range exchange on the key
  * into `defaultParallelism` partitions (an explicit count, so AQE
  * cannot coalesce it into one task), a local sort, and one pass over
  * each partition's per-key runs folding the bucketized series in
  * memory (O(buckets) per key, bounded by the query range, never data
  * volume; the same bound as any keyed window). A million hosts = a
  * million small folds spread over the cluster, not a million
  * one-at-a-time training jobs. The fold is off-codegen by design — it
  * IS the computation, nothing for Tungsten to fuse, and the heavy
  * reduction (bucketization) already ran distributed before it. Key
  * columns are matched as STRINGS (they are tags in this domain,
  * `loudml/model.py` match_all).
  *
  * Prediction/forecast are pure projections from the state frame:
  * forecast explodes each state row into its horizon buckets (narrow,
  * O(horizon) fan-out), predict joins states onto the bucketized frame
  * by key (states are index-sized: one row per series) — per-key
  * semantics identical to training each series alone (spec-proven
  * against [[HoltWinters.fit]]).
  */
object FleetHoltWinters {

  /** Trained per-key state (mirrors [[HoltWintersState]]). */
  private[ml] case class FleetState(k: Seq[String], level: Double,
      trend: Double, sigma: Double, last_bucket: Long, season: Seq[Double])

  /** Train one Holt-Winters state per key from a bucketized frame
    * `(keys…, bucket, valueCol)` (gaps as missing rows or null values —
    * both roll the state exactly like [[HoltWinters.fit]], which this
    * reuses verbatim per key). Returns
    * `(keys…, level, trend, sigma, last_bucket, season)`. */
  def train(bucketed: DataFrame, valueCol: String, keys: Seq[String],
      p: HoltWintersParams): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    val spark = bucketed.sparkSession
    import spark.implicits._
    val states = KeyedFit.perKey(
        KeyedFit.typedPoints(bucketed, valueCol, keys)) { (key, series) =>
      val st = HoltWinters.fit(series, p)
      Some(FleetState(key, st.level, st.trend, st.sigma, st.lastBucket,
        st.season.toSeq))
    }.toDF()
    states.select(
      keys.zipWithIndex.map { case (k, i) => col("k")(i).as(k) } ++
        Seq(col("level"), col("trend"), col("sigma"), col("last_bucket"),
          col("season")): _*)
  }

  private def projection(p: HoltWintersParams) = {
    val slot = (pmod(col("bucket"), lit(p.period)) / lit(p.bucketInterval))
      .cast("long")
    val h = ((col("bucket") - col("last_bucket")) / lit(p.bucketInterval))
      .cast("long")
    col("level") + h * col("trend") +
      element_at(col("season"), (slot + 1).cast("int"))
  }

  /** Forecast every key over `[from, to)`: each state row explodes into
    * its horizon buckets; `predicted = ℓ + h·b + season[slot]`, bands
    * `± z·σ` — a narrow projection, no shuffle, no per-key driver work. */
  def forecast(states: DataFrame, keys: Seq[String], from: Long, to: Long,
      p: HoltWintersParams, z: Double = 3.0): DataFrame =
    states
      .withColumn("bucket",
        explode(sequence(lit(from), lit(to - p.bucketInterval),
          lit(p.bucketInterval))))
      .withColumn("predicted", projection(p))
      .withColumn("lower", col("predicted") - lit(z) * col("sigma"))
      .withColumn("upper", col("predicted") + lit(z) * col("sigma"))
      .select((keys.map(col) :+ col("bucket")) ++
        Seq(col("predicted"), col("lower"), col("upper")): _*)

  /** Score an observed bucketized frame against the fleet states: join
    * by key (broadcast-sized build side for any real fleet), project
    * predicted/bands, Φ-score like the solo model. */
  def predict(bucketed: DataFrame, states: DataFrame, valueCol: String,
      keys: Seq[String], p: HoltWintersParams,
      anomalyType: String = "low_high", z: Double = 3.0): DataFrame =
    bucketed.join(states, keys)
      .withColumn("predicted", projection(p))
      .withColumn("lower", col("predicted") - lit(z) * col("sigma"))
      .withColumn("upper", col("predicted") + lit(z) * col("sigma"))
      .withColumn("score", graft.functions.Stats.anomalyScore(
        col(valueCol), col("predicted"), col("upper"), anomalyType))
      .drop("level", "trend", "sigma", "last_bucket", "season")
}
