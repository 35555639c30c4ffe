package perfbench

import scala.util.Random

/** Seeded input generators. Every workload input comes from here, so the
  * same seed gives the same inputs, and the expected results the output
  * checks compare against are computed from the generated data alone.
  * Metric values are whole numbers, so bucket sums are exact in any
  * summation order. */
object Gen {
  val Hour = 3600L
  val Day = 86400L
  /** 2024-01-01T00:00:00Z: every range below starts on a day boundary. */
  val T0 = 1704067200L

  /** One point: epoch seconds, series key, value. */
  final case class Point(ts: Long, key: String, value: Double)

  /** Generated points plus their per-(key, bucket) truth at `interval`. */
  final case class Series(points: Vector[Point], anomalies: Set[(String, Long)]) {
    def truth(interval: Long): Map[(String, Long), (Long, Double)] =
      points.groupBy(p => (p.key, p.ts - Math.floorMod(p.ts, interval)))
        .map { case (k, ps) => k -> (ps.size.toLong, ps.map(_.value).sum) }
  }

  private def seasonal(rnd: Random, base: Double, amp: Double, ts: Long): Double =
    math.rint(base + amp * math.sin(2 * math.Pi * Math.floorMod(ts, Day) / Day) +
      rnd.nextGaussian() * 2.0)

  /** Hourly-bucketed seasonal metric for one or more keys: `perBucket`
    * points at distinct random offsets inside each hour of `[from, to)`;
    * every bucket start in `anomalies` gets a level shift of `shift`. */
  def series(seed: Long, keys: Seq[(String, Double, Double)], from: Long,
      to: Long, perBucket: Int, anomalies: Set[(String, Long)],
      shift: Double): Series = {
    val rnd = new Random(seed)
    val step = Hour / perBucket
    val pts = for {
      (key, base, amp) <- keys.toVector
      b <- from until to by Hour
      i <- 0 until perBucket
      off = i * step + rnd.nextInt(step.toInt)
    } yield {
      val v = seasonal(rnd, base, amp, b + off)
      Point(b + off, key, if (anomalies((key, b))) v + shift else v)
    }
    Series(pts, anomalies)
  }

  /** The journey's single series: `trainDays` clean days, then an eval
    * range of `evalDays` and a tick range of `ticks` hours. Two level
    * shifts are planted in the eval range. The reference one sits at its
    * end, as in the reference's detection test
    * (tests/test_donut.py:532-584), and lasts into the first tick, so the
    * scheduled scan sees an episode open and close. The mid-range one
    * starts at a seeded hour of the first eval day and lasts `midWidth`
    * hours, so the eval buckets after it show whether a model flags the
    * clean buckets that follow a shift. Its after-effect on any model
    * with a context of up to a day ends before the last eval day, which
    * holds the reference shift alone. */
  final case class JourneyInput(series: Series, trainTo: Long, evalTo: Long,
      tickFrom: Long, ticks: Int) {
    /** Eval buckets scored against the mid-range shift: all but the last day. */
    def midRange: (Long, Long) = (trainTo, evalTo - Day)
    /** Eval buckets scored against the reference shift: the last day. */
    def refRange: (Long, Long) = (evalTo - Day, evalTo)
  }

  def journey(seed: Long, trainDays: Int, evalDays: Int, ticks: Int,
      width: Int = 12, midWidth: Int = 6): JourneyInput = {
    require(evalDays >= 2, "the mid-range shift needs an eval day of its own")
    val trainTo = T0 + trainDays * Day
    val evalTo = trainTo + evalDays * Day
    val midFrom = trainTo + (2 + new Random(seed ^ 0x3a1dL).nextInt(10)) * Hour
    val mid = (0 until midWidth).map(i => midFrom + i * Hour).toSet
    val ref = ((evalTo - width * Hour) to evalTo by Hour).toSet
    JourneyInput(
      series(seed, Seq(("", 100.0, 20.0)), T0, evalTo + ticks * Hour, 4,
        (mid ++ ref).map(b => ("", b)), shift = 60.0),
      trainTo, evalTo, evalTo, ticks)
  }

  /** The fleet: `k` hosts with their own level and amplitude,
    * `perBucket` points an hour over `trainDays + evalDays`, one planted
    * three-hour window per host in the eval days, plus one host that
    * reports only for the last 12 hours of the training range: its keyed
    * series is mostly empty buckets. */
  final case class FleetInput(series: Series, hosts: Seq[String], trainTo: Long) {
    /** The host with the mostly empty series. */
    def shortHost: String = hosts.last
  }

  def fleet(seed: Long, k: Int, perBucket: Int, trainDays: Int,
      evalDays: Int): FleetInput = {
    val rnd = new Random(seed ^ 0xf1ee7L)
    val hosts = (0 until k).map(i => f"host-$i%03d")
    val trainTo = T0 + trainDays * Day
    val specs = hosts.map(h => (h, 50.0 + rnd.nextInt(200), 5.0 + rnd.nextInt(30)))
    val planted = hosts.flatMap { h =>
      val start = trainTo + rnd.nextInt(evalDays * 24 - 4) * Hour
      (0 until 3).map(i => (h, start + i * Hour))
    }.toSet
    val main = series(seed, specs, T0, trainTo + evalDays * Day, perBucket, planted, shift = 150.0)
    val shortHost = "host-short"
    val short = series(seed + 1, Seq((shortHost, 80.0, 10.0)),
      trainTo - 12 * Hour, trainTo, perBucket, Set.empty, 0.0)
    FleetInput(Series(main.points ++ short.points, planted), hosts :+ shortHost, trainTo)
  }

  /** A document corpus in families: each family is one base document plus
    * planted variants — exact copies (differing only in whitespace, so
    * they match after normalization), near copies (a few words
    * substituted), and contained excerpts (a contiguous quarter to a
    * third of the base). Low-quality junk documents are mixed in for the
    * quality filter to drop. Ids are shuffled so families are not
    * contiguous. */
  final case class Doc(id: Long, text: String, family: Int, kind: String)
  final case class Corpus(docs: Vector[Doc]) {
    def kept: Vector[Doc] = docs.filter(_.kind != "junk")
  }

  def corpus(seed: Long, families: Int, dupShare: Double, junk: Int): Corpus = {
    val rnd = new Random(seed ^ 0xc0de5L)
    val vocab = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < 4000)
        seen += Iterator.fill(3 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString
      seen.toVector
    }
    def words(n: Int) = Vector.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val out = Vector.newBuilder[(String, Int, String)]
    (0 until families).foreach { f =>
      val base = words(60 + rnd.nextInt(90))
      out += ((base.mkString(" "), f, "base"))
      if (rnd.nextDouble() < dupShare) {
        rnd.nextInt(3) match {
          case 0 => // exact copy after whitespace normalization
            out += ((base.mkString("  ").replaceFirst(" ", "\n ") + " ", f, "copy"))
          case 1 => // near copy: substitute ~4% of the words
            val subs = math.max(1, base.size / 25)
            val idx = rnd.shuffle(base.indices.toVector).take(subs).toSet
            out += ((base.indices.map(i =>
              if (idx(i)) vocab(rnd.nextInt(vocab.size)) else base(i)).mkString(" "),
              f, "near"))
          case _ => // contained excerpt, well below the Jaccard threshold
            val len = base.size / 4 + rnd.nextInt(base.size / 12 + 1)
            val at = rnd.nextInt(base.size - len)
            out += ((base.slice(at, at + len).mkString(" "), f, "excerpt"))
        }
      }
    }
    (0 until junk).foreach { j =>
      out += ((Iterator.fill(1 + rnd.nextInt(4))("#!?" * (1 + rnd.nextInt(3)))
        .mkString(" "), -1 - j, "junk"))
    }
    val rows = out.result()
    val ids = rnd.shuffle(rows.indices.map(_.toLong + 1).toVector)
    Corpus(rows.zip(ids).map { case ((t, f, k), id) => Doc(id, t, f, k) }.sortBy(_.id))
  }

  /** Distinct word 3-shingles after whitespace normalization. */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val w = text.trim.split("\\s+").toVector
    if (w.size < n) Set(w.mkString(" ")) else w.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    (x intersect y).size.toDouble / (x union y).size
  }
}
