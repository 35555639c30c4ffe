package graft.ml

import org.apache.spark.sql.DataFrame

/** Donut VAE for a FLEET of series: one variational model per key. The
  * keyed shape of the shared [[WindowModel]] core bound to the VAE's
  * parts ([[DonutVae.core]]), the same binding as [[FleetAutoencoder]]:
  * [[DonutVae.fitSeries]] runs per key through [[KeyedFit.perKey]],
  * and scoring replays [[DonutVae.predictWindow]] per key after one
  * weight-blob decode. Per-key states and scores are bit-identical to
  * training and scoring that series alone.
  */
object FleetDonutVae {
  import DonutVae.{Params, core}

  /** One VAE state per key, `weights` being the flat 14-tensor blob.
    * Degenerate series (empty, all-null, or whose training split is
    * shorter than the span) skip without aborting the fleet job,
    * counted in the approximate named accumulator
    * `graft.fleetVae.skippedKeys`. */
  def train(bucketed: DataFrame, valueCol: String, keys: Seq[String],
      p: Params): DataFrame =
    core(p).trainKeyed(bucketed, valueCol, keys, "graft.fleetVae.skippedKeys")

  /** Score against the fleet states. Keys without a state emit nothing;
    * a blob of another net shape fails with "weight blob length". */
  def predict(bucketed: DataFrame, states: DataFrame, valueCol: String,
      keys: Seq[String], p: Params,
      anomalyType: String = "low_high"): DataFrame =
    core(p).predictKeyed(bucketed, states, valueCol, keys, anomalyType)
}
