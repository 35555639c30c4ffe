package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.functions.NormalizeText
import graft.io.{Compact, Publish}
import graft.operators.{Dedup, Sampling, TextAnalysis}

/** `curation`: a generated corpus with planted exact copies, near copies
  * and contained excerpts through the dedup kernels, the iterative graph
  * loops and the publish/compaction write path: quality filter and
  * normalization, LSH dedup, exact Jaccard join, containment drop (which
  * runs the containment join), near-dup clusters, PageRank and label propagation over the pair
  * graph, a hash split, then a sharded publish with three appends, a
  * compaction and a verify. No other workload touches these operators. */
object Curation {
  val DupShare = 0.3
  val Tau = 0.5
  val ContainTau = 0.8
  /** Enough rounds that each loop passes one of its checkpoints. */
  val PageRankIters = 6
  val LabelIters = 3
  /** Families (base documents) per second of timed work. */
  val FamiliesPerSecond = 12

  private def frame(spark: SparkSession, c: Gen.Corpus): DataFrame = {
    import spark.implicits._
    c.docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
  }

  /** The whole chain over `raw`; returns (dedup ms, publish ms), each the
    * sum of its stages' times, so the output checks between stages are
    * left out. */
  private def chain(spark: SparkSession, raw: DataFrame, c: Gen.Corpus, dir: String,
      r: Report): (Double, Double) = {
    import r.check
    var stagesMs = 0.0
    /** One call into a layer: traced, timed into `stagesMs`, and counted
      * as an attempted operation. */
    def stage[T](name: String)(body: => T): T = {
      val (v, ms) = r.op(Trace.span(name)(body))
      stagesMs += ms
      v
    }
    val byId = c.docs.map(d => d.id -> d).toMap

    val clean = stage("operators.text") {
      raw.filter(TextAnalysis.qualityScore(col("text")) >= 0.5)
        .withColumn("text", NormalizeText(col("text")))
        .localCheckpoint(true)
    }
    val kept = clean.select("doc_id").collect().map(_.getLong(0)).toSet
    check("quality filter drops exactly the junk documents",
      kept == c.kept.map(_.id).toSet, s"${kept.size} kept, ${c.kept.size} expected")

    val survivors = stage("operators.lsh_dedup") {
      Dedup.lshDedup(clean, "doc_id", "text", tau = Tau).select("doc_id").localCheckpoint(true)
    }.collect().map(_.getLong(0)).toSet
    // exact copies always collide in every band: exactly one of each pair survives
    val exactFamilies = c.docs.filter(_.kind == "copy").map(_.family).toSet
    val badExact = c.kept.filter(d => exactFamilies(d.family) && d.kind != "excerpt")
      .groupBy(_.family).count { case (_, ds) => ds.count(d => survivors(d.id)) != 1 }
    check("LSH dedup keeps one document of every exact-copy family", badExact == 0,
      s"$badExact exact-copy families kept 0 or 2 documents")

    val pairsDf = stage("operators.jaccard_join") {
      Dedup.jaccardJoin(clean, "doc_id", "text", tau = Tau).localCheckpoint(true)
    }
    val pairs = pairsDf.select("id_a", "id_b").collect().map(p => (p.getLong(0), p.getLong(1))).toSet
    val expected = c.kept.groupBy(_.family).values.flatMap { ds =>
      for (a <- ds; b <- ds if a.id < b.id && Gen.jaccard(a.text, b.text) >= Tau)
        yield (a.id, b.id)
    }.toSet
    val unrelated = pairs.count { case (a, b) => byId(a).family != byId(b).family }
    check("jaccardJoin returns every planted copy pair and no unrelated pair",
      expected.subsetOf(pairs) && unrelated == 0 && expected.nonEmpty,
      s"${(expected -- pairs).size} planted pairs missing, $unrelated unrelated pairs returned")
    r.layers("operators.jaccard_join.pairs") = pairs.size.toDouble

    val uncontained = stage("operators.containment") {
      Dedup.dropContained(clean, "doc_id", "text", tau = ContainTau)
        .select("doc_id").localCheckpoint(true)
    }.collect().map(_.getLong(0)).toSet
    val excerpts = c.kept.filter(_.kind == "excerpt").map(_.id).toSet
    val loners = c.kept.groupBy(_.family).values.filter(_.size == 1).flatten.map(_.id).toSet
    check("dropContained drops every excerpt and keeps every unrelated document",
      (excerpts intersect uncontained).isEmpty && loners.subsetOf(uncontained),
      s"${(excerpts intersect uncontained).size} excerpts kept, " +
        s"${(loners -- uncontained).size} unrelated documents dropped")

    val clusters = stage("operators.clusters") {
      Dedup.nearDupClusters(clean, "doc_id", "text", tau = Tau).localCheckpoint(true)
    }
    stage("operators.graph") {
      val nodes = clean.select("doc_id")
      val edges = pairsDf.select("id_a", "id_b")
      Dedup.pageRank(nodes, edges, "doc_id", iters = PageRankIters).localCheckpoint(true)
      val seeds = clean.filter(pmod(col("doc_id"), lit(25)) === 0)
        .select(col("doc_id"), pmod(col("doc_id"), lit(3)).as("rating"))
      Dedup.labelPropagation(nodes, edges, "doc_id", seeds, "rating", iters = LabelIters)
        .localCheckpoint(true)
    }
    val split = stage("operators.sampling") {
      Sampling.hashSplit(clusters.filter(col("cluster_id") === col("doc_id"))
          .join(clean, "doc_id"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .localCheckpoint(true)
    }
    val dedupMs = stagesMs
    Main.log(r, f"dedup chain ${dedupMs / 1000}%.2fs")

    stagesMs = 0.0
    val data = java.nio.file.Paths.get(dir, "data")
    stage("io.publish") {
      Publish.writeShards(split.filter(pmod(col("doc_id"), lit(4)) === 0),
        "doc_id", "text", dir, shards = 8)
      (1 to 3).foreach { i =>
        Publish.appendShards(split.filter(pmod(col("doc_id"), lit(4)) === i),
          "doc_id", "text", dir)
      }
    }
    locally {
      val (files, bytes) = dataFiles(data)
      r.layers("io.publish.files") = files
      r.layers("io.publish.written_mb") = bytes / 1048576.0
    }
    val audit = stage("io.compact") {
      Compact.compactShards(spark, dir, targetBytes = 256L << 10).collect()
    }
    locally {
      val (files, bytes) = dataFiles(data)
      r.layers("io.compact.files_after") = files
      r.layers("io.compact.rewritten_mb") = bytes / 1048576.0
    }
    val problems = stage("io.verify") {
      Publish.verifyShards(spark, dir, "doc_id", "text").collect()
    }
    val publishMs = stagesMs
    val splitRows = split.count()
    check("compaction keeps every shard", audit.nonEmpty, "compaction audit is empty")
    check("verifyShards finds nothing wrong after publish and compaction",
      problems.isEmpty, s"${problems.length} shard problems: ${problems.take(3).mkString("; ")}")
    check("published corpus is the deduplicated split",
      splitRows > 0 && splitRows <= kept.size, s"$splitRows rows published")
    (dedupMs, publishMs)
  }

  private def dataFiles(data: Path): (Double, Double) = {
    val walk = Files.walk(data)
    try {
      val fs = walk.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .toArray.map(_.asInstanceOf[Path])
      (fs.length.toDouble, fs.map(Files.size).sum.toDouble)
    } finally walk.close()
  }

  def run(spark: SparkSession, seed: Long, seconds: Int, work: Path, r: Report): Unit = {
    val corpus = Gen.corpus(seed, families = FamiliesPerSecond * seconds, DupShare, junk = 40)
    val path = work.resolve("corpus").toString
    frame(spark, corpus).repartition(4).write.parquet(path)
    val raw = spark.read.parquet(path)
    // No warm-up: a curation pipeline is a batch job, which pays its cold
    // start on every run.
    val setup = (System.nanoTime() - r.startNs) / 1e9
    Main.log(r, s"set up, ${corpus.docs.size} documents")
    val (dedupMs, publishMs) = Trace.span("pass") {
      chain(spark, raw, corpus, work.resolve("published").toString, r)
    }
    val passS = (dedupMs + publishMs) / 1000
    r.metric("setup_s", setup, "s")
    r.metric("dedup_s", dedupMs / 1000, "s")
    r.metric("publish_s", publishMs / 1000, "s")
    r.e2e("setup_s") = (setup, "s")
    r.e2e("pass_s") = (passS, "s")
    r.e2e("build_s") = (dedupMs / 1000, "s")
    r.e2e("serve_s") = (publishMs / 1000, "s")
  }
}
