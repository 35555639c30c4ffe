package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Donut VAE for a FLEET of series — one variational model per key,
  * trained distributed, the same shape as [[FleetAutoencoder]]: the
  * reference trains one model per job per series (`loudml/worker.py`);
  * here every key's VAE fit runs inside one Spark job through the
  * shared keyed-fit path ([[KeyedFit.perKey]]), reusing
  * [[DonutVae.fitSeries]] verbatim per key. The fit is sequential PER
  * KEY (SGD epochs are inherently ordered) but independent ACROSS
  * keys — one range exchange on the key into `defaultParallelism`
  * partitions, which AQE never coalesces (its partition count is
  * explicit), so the fits spread over every core; a million hosts = a
  * million model-sized fits spread over the cluster.
  *
  * Scoring cogroups each key's points with its one state row, decodes
  * the weight blob ONCE per key, and replays the solo window kernel
  * ([[DonutVae.predictWindow]]) over the sorted series — per-key
  * results are bit-identical to training/scoring that series alone
  * (spec-proven, the same parity contract as the fleet AE). */
object FleetDonutVae {
  import DonutVae.{Params, fitSeries, predictWindow}
  import FleetAutoencoder.{AeState, AePred}
  import KeyedFit.typedPoints

  /** Train one VAE state per key; degenerate series (empty, all-null,
    * or shorter than the span) skip without aborting the fleet job —
    * counted in the approximate named accumulator
    * `graft.fleetVae.skippedKeys` (same at-least-once caveats as the
    * fleet AE's). Returns `(keys…, weights, sigma, mu, sd, slot_mean,
    * slot_sigma)`, weights being the flat 14-tensor blob. */
  def train(bucketed: DataFrame, valueCol: String, keys: Seq[String],
      p: Params): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    val spark = bucketed.sparkSession
    import spark.implicits._
    val skipped = spark.sparkContext.longAccumulator(
      "graft.fleetVae.skippedKeys")
    val states = KeyedFit.perKey(typedPoints(bucketed, valueCol, keys)) {
      (key, series) =>
        // solo preconditions checked explicitly (a throw from the fit
        // itself is a real bug and still fails the job); the split
        // must leave >= span training buckets for one window
        val ntrn = math.round(series.size * p.trainSize).toInt
        val degenerate = series.isEmpty || ntrn < p.span ||
          series.forall(_._2.isEmpty)
        if (degenerate) {
          skipped.add(1L); None
        } else {
          val f = fitSeries(series, p)
          Some(AeState(key, f.net.flat.toIndexedSeq, f.sigma,
            f.mu, f.sd, f.slotMean.toIndexedSeq, f.slotSig.toIndexedSeq))
        }
    }.toDF()
    states.select(
      keys.zipWithIndex.map { case (k, i) => col("k")(i).as(k) } ++
        Seq(col("weights"), col("sigma"), col("mu"), col("sd"),
          col("slot_mean"), col("slot_sigma")): _*)
  }

  /** Score a bucketized frame against the fleet states — cogroup by
    * key, one weight-blob decode per key, solo kernel per row. Keys
    * without a trained state emit nothing. */
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
          val net = new DonutVae.Net(p, new scala.util.Random(p.seed))
          net.loadFlat(st.weights.toArray) // length-checks the blob
          val series = points.map(r => (r.bucket, r.v)).toVector.sortBy(_._1)
          series.indices.iterator.map { i =>
            val (b, v) = series(i)
            val win = series.slice(math.max(0, i - p.span + 1), i + 1)
            AePred(key, b, v,
              predictWindow(net, p, st.mu, st.sd, b, win), st.sigma)
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
