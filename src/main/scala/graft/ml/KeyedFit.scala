package graft.ml

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._

/** The one keyed-fit path the fleet models share ([[FleetAutoencoder]],
  * [[FleetDonutVae]], [[FleetHoltWinters]]): the reference trains one
  * model per job per series (`loudml/worker.py`); here
  * every key's solo fit runs inside one Spark job, spread over every
  * core.
  *
  * Physical plan: one range exchange on the key tuple into the
  * session's `defaultParallelism` partitions, a local sort by
  * `(k, bucket)`, and one `mapPartitions` that walks each consecutive
  * run of a key and hands its sorted series to the solo fit. The
  * explicit partition count is what keeps the fits parallel: AQE
  * coalesces a plain keyed shuffle by bytes, and a fleet's bucketized
  * points are a few hundred KB however costly their fits are, so
  * `groupByKey` collapsed every fit into ONE task; a
  * repartition-by-number exchange is never coalesced. Range boundaries
  * are sampled over rows, and a key's fit cost grows with its rows, so
  * the partitions carry about equal fit work. Every key's rows land in
  * one partition, so each fit sees exactly the series it would see
  * alone (O(buckets) per key, bounded by the query range like every
  * keyed window).
  */
private[ml] object KeyedFit {

  /** One key's bucketized point; `k` is the string-cast key tuple. */
  case class SeriesPoint(k: Seq[String], bucket: Long, v: Option[Double])

  /** `(keys…, bucket, valueCol)` as typed points. Key columns are
    * matched as STRINGS (they are tags in this domain,
    * `loudml/model.py` match_all). */
  def typedPoints(bucketed: DataFrame, valueCol: String,
      keys: Seq[String]): Dataset[SeriesPoint] = {
    val spark = bucketed.sparkSession
    import spark.implicits._
    bucketed.select(
        array(keys.map(col(_).cast("string")): _*).as("k"),
        col("bucket").cast("long").as("bucket"),
        col(valueCol).cast("double").as("v"))
      .as[SeriesPoint]
  }

  /** Run `fit(key, series)` once per key, `series` sorted by bucket;
    * `None` skips the key. */
  def perKey[S: Encoder](points: Dataset[SeriesPoint])(
      fit: (Seq[String], Seq[(Long, Option[Double])]) => Option[S])
      : Dataset[S] =
    points
      .repartitionByRange(points.sparkSession.sparkContext.defaultParallelism,
        col("k"))
      .sortWithinPartitions("k", "bucket")
      .mapPartitions { rows =>
        val it = rows.buffered
        Iterator.continually(it).takeWhile(_.hasNext).flatMap { _ =>
          val key = it.head.k
          var series = Vector.empty[(Long, Option[Double])]
          while (it.hasNext && it.head.k == key) {
            val r = it.next()
            series :+= (r.bucket -> r.v)
          }
          fit(key, series)
        }
      }
}
