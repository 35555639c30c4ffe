package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tied-weights autoencoder for a FLEET of series — one learned window
  * subspace per key, trained distributed. Completes the fleet story for
  * the strongest model type the way [[FleetHoltWinters]] and
  * `FleetSeasonal` do for theirs: the reference trains one model per
  * job per series (`loudml/worker.py`); here every key's fit runs
  * inside one Spark job.
  *
  * Scale shape: the Adam fit is sequential PER KEY but independent
  * ACROSS keys, so training goes through the shared keyed-fit path
  * ([[KeyedFit.perKey]]) reusing [[AutoencoderReconstructor.fitSeries]]
  * verbatim: one range exchange on the key into `defaultParallelism`
  * partitions, a local sort, and one pass over each partition's
  * per-key runs. The explicit partition count keeps AQE from
  * coalescing the byte-tiny exchange into one task, so the fits spread
  * over every core (the heavy reduction — the bucketization — already
  * ran distributed before it). A million hosts = a million model-sized
  * fits spread over the cluster, not a million one-at-a-time training
  * jobs.
  *
  * Scoring cogroups each key's points with its state row (state side is
  * one row per series) and replays the solo window kernel
  * ([[AutoencoderReconstructor.predictWindow]]) over the sorted series
  * — the weights decode ONCE per key, windows assemble by slice, and
  * per-key results are bit-identical to training/scoring that series
  * alone (spec-proven). Key columns are matched as STRINGS (tags in
  * this domain, `loudml/model.py` match_all).
  */
object FleetAutoencoder {
  import AutoencoderReconstructor.{Params, fitSeries, predictWindow}
  import KeyedFit.typedPoints

  /** Trained per-key state (the solo model's fields, weights flat). */
  private[ml] case class AeState(k: Seq[String], weights: Seq[Double],
      sigma: Double, mu: Double, sd: Double,
      slot_mean: Seq[Double], slot_sigma: Seq[Double])

  private[ml] case class AePred(k: Seq[String], bucket: Long,
      value: Option[Double], predicted: Double, sigma: Double)

  /** Train one autoencoder state per key from a bucketized frame
    * `(keys…, bucket, valueCol)` (gaps as missing rows or null values —
    * both impute exactly like the solo fit, which this reuses verbatim
    * per key). Returns `(keys…, weights, sigma, mu, sd, slot_mean,
    * slot_sigma)` — one row per series.
    *
    * A degenerate series (empty, all-null, or fewer buckets than the
    * window span — routine in a real million-key fleet) must not abort
    * every OTHER key's fit: the solo `fitSeries` preconditions are
    * checked EXPLICITLY per key (not by catching exceptions — an
    * exception from inside the fit is a real bug and still fails the
    * job) and the key is skipped, mirroring the reference's
    * one-job-per-series isolation (loudml/worker.py — a failed training
    * job fails alone). Skips are counted in the named accumulator
    * `graft.fleetAe.skippedKeys`; that count is APPROXIMATE
    * (at-least-once: task retries, speculation, and re-evaluation of
    * the returned lazy frame re-add, and each train() call registers a
    * fresh accumulator). When an exact count matters, derive it as
    * (distinct input keys) − (output row count). */
  def train(bucketed: DataFrame, valueCol: String, keys: Seq[String],
      p: Params): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    val spark = bucketed.sparkSession
    import spark.implicits._
    val skipped = spark.sparkContext.longAccumulator(
      "graft.fleetAe.skippedKeys")
    val states = KeyedFit.perKey(typedPoints(bucketed, valueCol, keys)) {
      (key, series) =>
        // the solo fit's documented preconditions, checked up front —
        // any throw from fitSeries itself is a genuine bug and must
        // fail the job, so nothing here catches
        val degenerate = series.isEmpty ||
          series.size < p.span || series.forall(_._2.isEmpty)
        if (degenerate) {
          skipped.add(1L); None
        } else {
          val f = fitSeries(series, p)
          Some(AeState(key, f.w.flatten.toIndexedSeq, f.sigma,
            f.mu, f.sd, f.slotMean.toIndexedSeq, f.slotSig.toIndexedSeq))
        }
    }.toDF()
    states.select(
      keys.zipWithIndex.map { case (k, i) => col("k")(i).as(k) } ++
        Seq(col("weights"), col("sigma"), col("mu"), col("sd"),
          col("slot_mean"), col("slot_sigma")): _*)
  }

  /** Score a bucketized frame against the fleet states: cogroup by key,
    * replay the solo window pass per series, Φ-score like the solo
    * model. Output: `(keys…, bucket, valueCol, predicted, lower, upper,
    * score)`; keys without a trained state emit nothing. */
  def predict(bucketed: DataFrame, states: DataFrame, valueCol: String,
      keys: Seq[String], p: Params,
      anomalyType: String = "low_high"): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    val spark = bucketed.sparkSession
    import spark.implicits._
    val pts = typedPoints(bucketed, valueCol, keys).groupByKey(_.k)
    val sts = states.select(
        array(keys.map(col(_).cast("string")): _*).as("k"),
        col("weights").cast("array<double>").as("weights"),
        col("sigma").cast("double").as("sigma"),
        col("mu").cast("double").as("mu"),
        col("sd").cast("double").as("sd"),
        col("slot_mean").cast("array<double>").as("slot_mean"),
        col("slot_sigma").cast("array<double>").as("slot_sigma"))
      .as[AeState].groupByKey(_.k)
    val scored = pts.cogroup(sts) { (key, points, stRows) =>
      stRows.nextOption() match {
        case None => Iterator.empty
        case Some(st) =>
          // same contract as the solo load(): a state trained under a
          // different hidden/span must fail loudly, not misindex
          require(st.weights.length == p.hidden * p.span,
            s"weight shape mismatch for key '$key': state has " +
              s"${st.weights.length} weights, params expect " +
              s"${p.hidden}×${p.span}")
          val w = Array.tabulate(p.hidden, p.span)((i, j) =>
            st.weights(i * p.span + j))
          val sm = st.slot_mean.toArray
          val ss = st.slot_sigma.toArray
          val series = points.map(r => (r.bucket, r.v)).toVector.sortBy(_._1)
          series.indices.iterator.map { i =>
            val (b, v) = series(i)
            // last span ROWS ending here — the solo pass's
            // rowsBetween(-(span-1), 0) on a sorted series
            val win = series.slice(math.max(0, i - p.span + 1), i + 1)
            AePred(key, b, v,
              predictWindow(w, p, st.mu, st.sd, sm, ss, b, win), st.sigma)
          }
      }
    }.toDF()
    scored.select(
        keys.zipWithIndex.map { case (k, i) => col("k")(i).as(k) } ++
          Seq(col("bucket"), col("value").as(valueCol), col("predicted"),
            col("sigma")): _*)
      .withColumn("lower", col("predicted") - lit(3.0) * col("sigma"))
      .withColumn("upper", col("predicted") + lit(3.0) * col("sigma"))
      .withColumn("score", graft.functions.Stats.anomalyScore(
        col(valueCol), col("predicted"), col("upper"), anomalyType))
      .drop("sigma")
  }
}
