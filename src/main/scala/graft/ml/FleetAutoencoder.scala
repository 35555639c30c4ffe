package graft.ml

import org.apache.spark.sql.DataFrame

/** Tied-weights autoencoder for a FLEET of series: one learned window
  * subspace per key. The reference trains one model per job per series
  * (`loudml/worker.py`); here every key's fit runs inside one Spark
  * job. This is the keyed shape of the shared [[WindowModel]] core
  * bound to the autoencoder's parts ([[AutoencoderReconstructor.core]]):
  * training runs [[AutoencoderReconstructor.fitSeries]] per key through
  * [[KeyedFit.perKey]], spread over every core; scoring cogroups each
  * key's points with its one state row and replays the solo window
  * kernel over the sorted series. Per-key states and scores are
  * bit-identical to training and scoring that series alone.
  */
object FleetAutoencoder {
  import AutoencoderReconstructor.{Params, core}

  /** One autoencoder state per key of `(keys…, bucket, valueCol)`:
    * `(keys…, weights, sigma, mu, sd, slot_mean, slot_sigma)`. A
    * degenerate series (empty, all-null, or fewer buckets than the
    * span) is skipped, not fatal, and counted in the approximate named
    * accumulator `graft.fleetAe.skippedKeys` (at-least-once: retries
    * and re-evaluation re-add; see `WindowModel.trainKeyed`). */
  def train(bucketed: DataFrame, valueCol: String, keys: Seq[String],
      p: Params): DataFrame =
    core(p).trainKeyed(bucketed, valueCol, keys, "graft.fleetAe.skippedKeys")

  /** Score `(keys…, bucket, valueCol)` against the fleet states; adds
    * `predicted, lower, upper, score`. Keys without a state emit
    * nothing; a state trained under another hidden/span fails with
    * "weight shape mismatch". */
  def predict(bucketed: DataFrame, states: DataFrame, valueCol: String,
      keys: Seq[String], p: Params,
      anomalyType: String = "low_high"): DataFrame =
    core(p).predictKeyed(bucketed, states, valueCol, keys, anomalyType)
}
